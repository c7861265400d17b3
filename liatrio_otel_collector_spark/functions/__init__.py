from .tokens import parse_tokens_udf, parse_tokens_expr  # noqa: F401
from .ids import trace_id, span_id  # noqa: F401
from .timeparse import parse_multi_format_ts  # noqa: F401
from .maps import normalize_severity, normalize_deploy_status, status_to_span_code  # noqa: F401
from .strings import (  # noqa: F401
    age_seconds,
    api_to_html_url,
    format_service_name,
    release_to_service,
    replace_first,
    split_tags,
    strip_refs_heads,
    workflow_path_to_name,
)
