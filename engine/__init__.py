"""spark-graft engine: a PySpark-native per-column lightweight-compression
engine with the encoding-layer semantics of sadikovi/parquet-rs.

Layers:
- ``engine.codecs``  — numpy-vectorized encode/decode kernels (PLAIN,
  DICTIONARY, RLE hybrid, DELTA_BINARY_PACKED, bit-packing, FSST);
- ``engine.chunk``   — chunk framing + checksums (the column-chunk unit,
  reference ``src/column/page.rs`` / ``src/file/metadata.rs:294-444``);
- ``engine.selector`` — per-chunk codec auto-selection from sampled stats;
- ``engine.jobs``    — distributed encode/decode as Arrow-native
  ``mapInArrow``/``applyInArrow`` stages over DataFrames, with salted
  partitioning and checkpointed resume;
- ``engine.ops``     — training-data pipeline operators (dedup, similarity
  search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
