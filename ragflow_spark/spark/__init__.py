from .udfs import EXTRACTED_SCHEMA, CHUNKS_SCHEMA, extract_batches  # noqa: F401
