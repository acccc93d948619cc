from .parse import classify_signal, parse_turns  # noqa: F401
from .melt import melt_attributes, ATTR_STR, ATTR_INT, ATTR_DOUBLE, ATTR_BOOL, ATTR_BYTES, ATTR_SER  # noqa: F401
from .normalize import assign_surrogate_ids, stable_turn_order  # noqa: F401
from .encode import (  # noqa: F401
    delta_encode_parent_ids,
    delta_decode_parent_ids,
    dict_encode_column,
    dict_decode_column,
)
from .enrich import enrich_with_catalog  # noqa: F401
from .route import route_signals, SINKS  # noqa: F401
from .aggregate import schema_analyzer  # noqa: F401
from .obfuscate import obfuscate_strings  # noqa: F401
from .reconstruct import reconstruct_turns  # noqa: F401
