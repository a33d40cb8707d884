"""Pure numpy/pandas codec kernels — importable without Spark."""

from .api import decode_block, encode_block, sha256_column_arrow  # noqa: F401
from .selector import column_stats, select_codec  # noqa: F401
