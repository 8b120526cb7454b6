"""Seeded MasterControl-shaped lot source for the ``etl_lots`` workload.

Every payload is generated up front from the benchmark's seed and held
in memory, so a fetch costs what the package's ``sources`` layer
spends on it, not what a fake server spends making JSON. A
``LotFetcher`` is a picklable callable with the ``(page) -> payload``
signature of ``sources.rest``; executor Python workers import this
module by name, so the checkout root must be on their ``PYTHONPATH``.

Lot sizes are skewed (log-normal, sigma 0.3), because the reference loads
one lot per batch and batch cost follows lot size. The sizes are assumed:
no source in the repo gives them. They are the same for every seed, so
runs with different seeds time batches of like sizes; the seed moves the
captures' contents. A revision re-issues a seeded share of a lot's
captures with new values, which is what an incremental (per-lot replace)
load exists for.
"""

from __future__ import annotations

import hashlib

import numpy as np

#: records per page, as the package's own default (``sources.rest.PAGE_SIZE``)
PAGE_SIZE = 1_000
#: seeds the lot sizes, which do not follow the run's seed
SIZE_SEED = 0
LEVELS = (("UNIT_PROCEDURE", 3), ("OPERATION", 3), ("PHASE", 2))


class LotFetcher:
    """Pages of one lot's captures: ``{"content": [...], "last": bool}``."""

    def __init__(self, records: list[dict]):
        self.pages = [records[i:i + PAGE_SIZE]
                      for i in range(0, len(records), PAGE_SIZE)]

    def __call__(self, page: int) -> dict:
        content = self.pages[page] if page < len(self.pages) else []
        return {"content": content, "last": page >= len(self.pages) - 1}


class LotSource:
    """All lots of one seed: captures (by revision), meta and structures."""

    def __init__(self, seed: int, n_lots: int, mean_records: int):
        rng = np.random.default_rng(SIZE_SEED)
        sizes = np.clip(rng.lognormal(np.log(mean_records), 0.3, n_lots),
                        mean_records // 4, mean_records * 4).astype(int)
        self.seed = seed
        self.lots = [f"LOT-{seed % 1000:03d}-{i:04d}" for i in range(n_lots)]
        self.sizes = dict(zip(self.lots, sizes.tolist()))
        self.template = {lot: 100 + i % 4 for i, lot in enumerate(self.lots)}
        self._first_id = dict(zip(self.lots, np.concatenate(
            [[0], np.cumsum(sizes)[:-1]]).tolist()))

    def meta_records(self, lot: str) -> list[dict]:
        i = self.lots.index(lot)
        return [{"lotNumber": lot, "productId": f"P-{i % 7}",
                 "productName": f"Product {self.template[lot]}",
                 "status": "Released" if i % 3 else "In Review"}]

    def structure_records(self, lot: str) -> list[dict]:
        tpl = self.template[lot]
        out = []
        for u in range(LEVELS[0][1]):
            out.append({"title": f"Unit {u}", "level": "UNIT_PROCEDURE",
                        "masterTemplateId": tpl, "unitProcedureId": u,
                        "operationId": None, "phaseId": None})
            for o in range(LEVELS[1][1]):
                out.append({"title": f"Op {u}.{o}", "level": "OPERATION",
                            "masterTemplateId": tpl, "unitProcedureId": u,
                            "operationId": o, "phaseId": None})
                for p in range(LEVELS[2][1]):
                    out.append({"title": f"Phase {u}.{o}.{p}",
                                "level": "PHASE", "masterTemplateId": tpl,
                                "unitProcedureId": u, "operationId": o,
                                "phaseId": p})
        out.append({"title": "ignored", "level": "SECTION",
                    "masterTemplateId": tpl, "unitProcedureId": 0,
                    "operationId": 0, "phaseId": 0})
        return out

    def captures(self, lot: str, revision: int) -> list[dict]:
        """The lot's captures as served at ``revision`` (0 = first load)."""
        n = self.sizes[lot]
        rng = np.random.default_rng([self.seed, self.lots.index(lot)])
        rid0 = self._first_id[lot]
        unit = rng.integers(0, 3, n)
        op = rng.integers(0, 3, n)
        phase = rng.integers(0, 3, n)  # 2 = no such phase: left-join miss
        current = rng.random(n) < 0.9
        vod = rng.random(n) < 0.05
        iteration = rng.integers(0, 4, n)  # 0 = missing
        hour = rng.integers(0, 24, n)
        day = rng.integers(1, 28, n)
        revised = np.zeros(n, dtype=bool)
        if revision:
            rrng = np.random.default_rng([self.seed, self.lots.index(lot),
                                          revision])
            revised = rrng.random(n) < 0.2
        recs = []
        for j in range(n):
            value = f"{(rid0 + j) * 7 % 1000 / 10:.1f}"
            if revised[j]:
                value = f"{value}-r{revision}"
            recs.append({
                "productionRecordId": int(rid0 + j),
                "orderLabel": "0" if j % 17 == 0 else str(10 + j % 50),
                "masterTemplateId": self.template[lot],
                "unitProcedureId": int(unit[j]),
                "operationId": int(op[j]),
                "phaseId": int(phase[j]),
                "title": lot if j == 0 else f" Step {j} ",
                "value": f" {value}" if j % 11 == 0 else value,
                "userName": ("VOD_sync" if vod[j] else f"user{j % 9}"),
                "dateTime": f"2025-03-{int(day[j]):02d}T{int(hour[j]):02d}"
                            f":{j % 60:02d}:00Z",
                "actionTaken": "entry" if j % 4 else "verify",
                "dataCaptureName": ("BATCH_RECORD_CREATION" if j == 0
                                    else f"CAP_{j % 6}"),
                "current": bool(current[j]) or j == 0,
                "iterationNumber": (None if iteration[j] == 0
                                    else int(iteration[j])),
            })
        return recs


def expected_rows(captures: list[dict]) -> list[tuple]:
    """The ``lot_data`` rows a correct load of these captures implies,
    as ``(description, input_data_value, performed_by)``: current rows
    only, ``VOD_`` users dropped, strings trimmed."""
    return [(r["title"].strip(), r["value"].strip(), r["userName"])
            for r in captures
            if r["current"] and not r["userName"].startswith("VOD_")]


def multiset_hash(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    acc = 0
    for row in rows:
        h = hashlib.blake2b("\x1f".join(map(str, row)).encode(),
                            digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 128)
    return f"{acc:032x}"
