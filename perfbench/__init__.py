"""Seeded end-to-end benchmark for mc_ns_data_pipeline_spark (see README.md)."""
