from .pipeline import (  # noqa: F401
    PipelineConfig,
    build_pipeline,
    enrich_stage,
    parse_stage,
    run_pipeline,
)
from .lineage import lineage_manifest  # noqa: F401
