"""fin_ocr_sdk_spark — a from-scratch, PySpark-native re-creation of the
extraction capabilities of finos/fin-ocr-sdk (check OCR: MICR-line
isolation, E-13B character classification, MICR field grammar), plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) such an engine needs at 100 TB scale.

Layout
------
- ``functions``  pure scalar/string/geometry functions (MICR grammar,
                 rects, MinHash/SimHash arithmetic)
- ``operators``  NumPy image kernels, segmentation, classification
- ``sources``    image codecs, fixture synthesis, table IO
- ``plans``      pipeline assembly, lineage/resume, partitioning strategy
- ``streaming``  the video loop: Structured Streaming analog of the
                 reference's frame-pull capture loop

The training-data queries (dedup, ANN, text quality) are DataFrame
plans in the driver module ``__spark_entry__``.

Everything image-related runs inside vectorized pandas/Arrow UDFs over
NumPy tensors — never per-row Python in the Spark hot path.
"""

__version__ = "0.1.0"
