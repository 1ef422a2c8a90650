from bodhium_webscrapper_spark.functions.canonicalize import (  # noqa: F401
    canonicalize_one,
    canonicalize_udf,
    resolve_and_canonicalize_udf,
    with_canonical_url,
)
from bodhium_webscrapper_spark.functions.extract import (  # noqa: F401
    extract_links_py,
    extract_text_py,
    extract_text_udf,
)
