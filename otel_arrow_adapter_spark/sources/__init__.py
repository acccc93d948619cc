from .otlp_pb import (  # noqa: F401
    decode_export_logs_request,
    decode_export_metrics_request,
    decode_export_trace_request,
    encode_export_logs_request,
    encode_export_metrics_request,
    encode_export_trace_request,
    read_pb_logs,
    read_pb_metrics,
    read_pb_spans,
)
from .readers import read_transcripts  # noqa: F401
