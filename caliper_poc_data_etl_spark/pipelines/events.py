"""Shared event construction against the superset schema.

The reference emits three envelope shapes into one output stream
(SURVEY.md F4); the engine unifies them under one nullable superset
``StructType`` (:data:`caliper_poc_data_etl_spark.schemas.EVENT_SCHEMA`)
so heterogeneous events can live in one column / array / sink. Absent
fields are NULLs, pruned at JSON write via ``ignoreNullFields``.

An event renders as ONE SQL expression, ``CAST(named_struct(...) AS
<EVENT_SCHEMA>)``: the driver parses one string instead of making a
py4j call per field, and the single superset cast gives every event
exactly the type ``EVENT_SCHEMA`` (struct casts are positional, so it
also renames fields, e.g. the ``arrays_zip`` field to ``id``).

:func:`collect_in_order` is the pipelines' ordered list-aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caliper_poc_data_etl_spark.schemas import EVENT_SCHEMA, EVENT_TYPES

_EVENT_DDL = EVENT_SCHEMA.simpleString()


def _named_struct(struct_type: T.StructType, provided: dict[str, str]) -> str:
    """``named_struct`` over every field of ``struct_type``, in schema
    order, from the ``provided`` SQL fragments; absent fields are NULL."""
    unknown = set(provided) - set(struct_type.names)
    if unknown:
        raise KeyError(f"fields not in event schema: {sorted(unknown)}")
    args = ", ".join(
        f"'{f.name}', {provided.get(f.name, 'NULL')}" for f in struct_type.fields
    )
    return f"named_struct({args})"


def make_event(
    event_type: str,
    values: dict[str, str] | None = None,
    top: dict[str, str] | None = None,
) -> Column:
    """Construct one event struct (superset schema).

    ``event_type`` is a key of the closed ``typeMap`` vocabulary
    (reference ``etl.js:127-141``); unknown types raise here rather
    than producing ``undefined`` silently.

    ``values`` populates the nested ``values`` struct; ``top``
    populates the top-level envelope-variant fields (``actor`` /
    ``object`` / ``generated`` as siblings of ``values`` — the
    ``AssessmentEvent`` shape, SURVEY.md F4). Both map a field name to
    a Spark SQL fragment (e.g. ``"named_struct('id', attempt_id,
    'count', 1)"``); a nested struct fragment lists its fields in
    schema order, and each value is cast to its schema type. Fragments
    are pasted into the expression verbatim, so they must come from
    code, never from data.
    """
    if event_type not in EVENT_TYPES:
        raise KeyError(f"unknown event type {event_type!r}; known: {sorted(EVENT_TYPES)}")
    provided = {
        "type": f"'{EVENT_TYPES[event_type]}'",
        "values": _named_struct(EVENT_SCHEMA["values"].dataType, values or {}),
        **(top or {}),
    }
    return F.expr(f"CAST({_named_struct(EVENT_SCHEMA, provided)} AS {_EVENT_DDL})")


def id_entity(sql: str) -> str:
    """``{id: <sql>}`` single-field entity fragment (reference getActor etc.)."""
    return f"named_struct('id', CAST({sql} AS STRING))"


def collect_in_order(value: str, order: str = "_row_id") -> Column:
    """``collect_list(value)`` ordered by ``order`` (unique per group).

    Spark's ``collect_list`` gives no intra-group order; the reference
    preserves input order (``etl.js:112``). ``sort_array`` on structs
    orders by the leading field, so collecting ``(ord, value)`` pairs,
    sorting them, and extracting ``value`` from the array of structs
    restores the order without a per-element lambda.
    """
    pairs = F.collect_list(F.struct(F.col(order).alias("ord"), F.col(value)))
    return F.sort_array(pairs).getField(value)
