"""Driver-side values as single plan literals.

A query vector, a frozen codebook or a per-query lookup table enters a
plan as ONE literal rather than as a side DataFrame or one ``F.lit`` per
element: a local-list ``createDataFrame`` is RDD-backed, so each
broadcast of one runs a Spark job of its own, and an element-wise
literal array grows the plan, and its analysis time, with the element
count.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def folded_literal(value, dtype: T.DataType) -> Column:
    """``value`` as ONE plan literal of type ``dtype``: a JSON string
    parsed by ``from_json``, which constant folding evaluates once at
    planning time. Floats round-trip exactly (Python writes the
    shortest repr, the JSON reader parses it correctly rounded).
    ``default=str`` passes date-typed ids as the ISO strings
    ``from_json`` parses."""
    return F.from_json(
        F.lit(json.dumps(value, default=str)), dtype, {"mode": "FAILFAST"}
    )


def folded_map(entries: dict, key_type: T.DataType, value_type: T.DataType) -> Column:
    """A folded map literal (see :func:`folded_literal`)."""
    kv = T.ArrayType(
        T.StructType([T.StructField("k", key_type), T.StructField("v", value_type)])
    )
    return F.map_from_entries(
        folded_literal([{"k": k, "v": v} for k, v in entries.items()], kv)
    )
