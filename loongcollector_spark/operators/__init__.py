from .base import FIELDS, Operator, fget, fhas, to_events, project_fields
from .common import ParserOptions, RAW_LOG_KEY

__all__ = [
    "FIELDS",
    "Operator",
    "fget",
    "fhas",
    "to_events",
    "project_fields",
    "ParserOptions",
    "RAW_LOG_KEY",
]
