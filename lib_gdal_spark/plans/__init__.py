from .pipeline import run_pipeline, PIPELINE_STEPS  # noqa: F401
from .flagship import curate, flagship  # noqa: F401
