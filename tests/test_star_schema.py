"""Schema pins for the star-schema codecs: the exact ``schema.json()``
(names, types, field order, nullability, containsNull) of both nested
generators, all 18 encoded related records and both decoded frames.

The pins in ``star_schema_pins.json`` are the schemas these frames had
when each family still spelled out its own nest and DDL types; the shared
split/nest core (``operators/star.py``) must reproduce every one of them.
Only the analysis runs here: no Spark job is started."""

import json
import os

from otel_arrow_adapter_spark.datagen.metrics import synthesize_metrics_nested
from otel_arrow_adapter_spark.datagen.traces import synthesize_traces_nested
from otel_arrow_adapter_spark.operators.metrics_dp import decode_metrics, encode_metrics
from otel_arrow_adapter_spark.operators.span_records import decode_traces, encode_traces

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "star_schema_pins.json")


def _frames(spark):
    out = {}
    metrics = synthesize_metrics_nested(spark, n_metrics=120, seed=7)
    traces = synthesize_traces_nested(spark, n_spans=150, seed=3)
    for family, nested, encode, decode in (
        ("metrics", metrics, encode_metrics, decode_metrics),
        ("traces", traces, encode_traces, decode_traces),
    ):
        records = encode(nested)
        out[f"{family}/nested"] = nested
        out.update({f"{family}/record/{name}": df for name, df in records.items()})
        out[f"{family}/decoded"] = decode(records)
    return out


def test_star_schemas_pinned(spark):
    with open(PINS, encoding="utf-8") as f:
        pins = json.load(f)
    got = {name: df.schema.json() for name, df in _frames(spark).items()}
    assert sorted(got) == sorted(pins)
    assert len([n for n in got if "/record/" in n]) == 18
    for name, schema in pins.items():
        assert got[name] == schema, name
