from .formats import read_as, stage_roundtrip
from .tables import TABLE_NAMES, load_table, register_views

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "read_as",
    "register_views",
    "stage_roundtrip",
]
