"""deltoid_spark — a from-scratch PySpark-native per-column lightweight
compression engine.

Re-expresses the semantics of the reference diff/patch library
(jjpe/deltoid: ``a.apply(a.delta(&b)) == b``, see
``/root/reference/deltoid/src/core.rs:15-26``) as vectorized columnar
codec kernels (DICT / RLE / FSST / bit-pack / frame-of-reference) plus
deltoid-style inter-version content deltas over ``(repo, path)`` commit
chains, orchestrated with the PySpark DataFrame API and Arrow UDFs.

Layout:
  kernels/    numpy/Arrow codecs — no Spark or pandas imports (unit-testable)
  fixtures/   deterministic synthetic code-repository table generator
  jobs/       Spark encode / decode / verify jobs + manifest / partitioning
  functions/  training-data-pipeline ops (dedup + clustering, similarity,
              text analysis, temporal joins/sessions, packing/splits,
              multimodal codecs)
  queries.py  driver-contract query catalog (queries + DuckDB oracle SQL)
"""

__version__ = "0.1.0"
