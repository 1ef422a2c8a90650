from bodhium_webscrapper_spark.operators.politeness import per_host_budget  # noqa: F401
from bodhium_webscrapper_spark.operators.robots import robots_gate  # noqa: F401
from bodhium_webscrapper_spark.operators.seen import (  # noqa: F401
    DistributedBloom,
    build_bloom,
    or_merge_blobs,
    seen_anti_join,
)
from bodhium_webscrapper_spark.operators.union import source_priority_union  # noqa: F401
