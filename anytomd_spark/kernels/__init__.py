"""Pure-Python conversion kernels (no Spark imports).

Each module reimplements the semantics of one reference converter
(``/root/reference/src/converter/*.rs``). These run inside Arrow-batched
pandas UDF workers; keep them dependency-free and deterministic.
"""

from anytomd_spark.kernels.convert import convert_bytes  # noqa: F401
