from .job import (
    extract_pipeline,
    resume_against,
    write_output,
)
from .session import build_spark

__all__ = [
    "build_spark",
    "extract_pipeline",
    "resume_against",
    "write_output",
]
