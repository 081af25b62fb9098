from .stream import (  # noqa: F401
    dedup_url_stream,
    extraction_to_snapshot_stream,
    cms_register_stream,
    host_running_totals_stream,
    hll_register_stream,
    incremental_dedup_stream,
    read_cms_registers,
    read_hll_registers,
    host_rate_stream,
    recrawl_merge_stream,
    run_extraction_stream,
)
