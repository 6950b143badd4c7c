from webalizer_spark.functions.grok import (
    GROK_FIELDS,
    MASTER_PATTERN,
    apply_grok,
)
from webalizer_spark.functions.scalars import (
    agent_mangle,
    get_domain,
    sanitize,
    search_terms,
    url_decode,
)

__all__ = [
    "GROK_FIELDS", "MASTER_PATTERN", "apply_grok",
    "agent_mangle", "get_domain", "sanitize",
    "search_terms", "url_decode",
]
