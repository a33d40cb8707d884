"""Codec kernels over numpy and Arrow arrays — importable without Spark
or pandas."""

from .api import decode_block, encode_block, sha256_column_arrow  # noqa: F401
from .selector import column_stats, select_codec  # noqa: F401
