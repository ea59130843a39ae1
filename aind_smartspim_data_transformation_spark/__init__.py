"""aind_smartspim_data_transformation_spark — a PySpark-native engine.

A from-scratch, Spark-first re-expression of the capabilities of
AllenNeuralDynamics/aind-smartspim-data-transformation (reference at
/root/reference, studied for *what* to compute, not *how*), plus the
relational / LLM-data-pipeline operator surface required by the driver
contract (see SURVEY.md §2).

Layout
------
- ``session``   : tuned SparkSession builders (local test vs cluster posture)
- ``tables``    : parquet table loaders / temp-view registration
- ``plans``     : declarative relational query plans (Catalyst does the work)
- ``operators`` : dedup, similarity search, text analysis, as-of join,
                  multimodal column plumbing
- ``functions`` : scalar-function library (wavelength→hex LUT, hashes, ...)
- ``sources``   : imaging sources — PNG/TIFF codecs, stack listing,
                  acquisition.json metadata
- ``imaging``   : the imaging job: fused band tasks, windowed-mean
                  pyramid, OME-Zarr store layer
- ``config``    : pydantic job settings (JSON arg / config file / env vars)
- ``streaming`` : Structured Streaming twins of the events-table queries
"""

__version__ = "0.1.0"
