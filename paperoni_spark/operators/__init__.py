from .extract import EXTRACT_RESULT_SCHEMA, make_extract_batch, run_extract

__all__ = ["EXTRACT_RESULT_SCHEMA", "make_extract_batch", "run_extract"]
