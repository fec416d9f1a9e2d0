"""The benchmark's workloads: the registered queries one closed-loop client
runs. Each pass runs every query once, in an order drawn from the run's seed.
"""

WORKLOADS = {
    "dashboard": {
        "why": "the reference dashboard's own star-schema queries: short "
               "broadcast-join aggregates and dimension lookups where "
               "driver-side build, plan and schema inference dominate",
        "queries": [
            "q09_dim_airports", "q10_dim_calendar", "q12_distinct_airlines",
            "q13_filtered_kpis", "q20_limit10",
        ],
    },
    "ingest_sink": {
        "why": "the only writing workload: CSV, JSONL, ORC, XML, incremental "
               "parquet ingest and upsert round trips, repeated to catch sink "
               "state that leaks across passes",
        "queries": [
            "q31_csv_ingest", "q48_jsonl_roundtrip", "q49_orc_roundtrip",
            "q116_incremental_ingest", "q123_upsert_sink", "q147_xml_roundtrip",
        ],
    },
}
