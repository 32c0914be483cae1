"""Workload definitions: each workload is one list of registry keys
(`graft.SparkEntry.queries`) and the keys whose first run stages the
`IndexStore` artifacts the list reads. Why each was chosen is in
README.md."""

WORKLOADS = {
    "bidask_ts": {
        "keys": ["ts_bidask_spread", "ts_effective_spread", "ts_vwap", "ts_ewma",
                 "ts_ohlc_bars", "win_rank", "win_frame_range", "join_asof",
                 "join_asof_native"],
        "stage": ["ts_effective_spread"],
    },
    "sql_etl": {
        "keys": ["q3_shipping_priority", "agg_pricing_summary", "unpivot_melt", "project_arith",
                 "etl_upsert", "stream_dedup"],
        "stage": ["stream_dedup"],
    },
}
