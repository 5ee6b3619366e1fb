from . import encode_sql
from . import encode
from . import text

__all__ = ["encode_sql", "encode", "text"]
