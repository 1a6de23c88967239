from .zorder import (
    hilbert_key_py,
    hilbert_key_udf,
    scale31_sql,
    zorder_key_py,
    zorder_key_sql,
)

__all__ = [
    "zorder_key_sql",
    "zorder_key_py",
    "hilbert_key_udf",
    "hilbert_key_py",
    "scale31_sql",
]
