"""Schema → column plan walker.

Reimplements the reference's schema handling — ParquetColumn tree
construction + DFS flattening (SetSchema, parquet-file.cc:179-203,
62-71) and the Avro schema walker (avro-schema-walker.cc:21-152,
218-251) — as a walk over an Arrow/Spark schema producing one
``ColumnPlan`` per leaf in depth-first preorder ("Parquet requires
columns specified as a vector that is the depth first preorder
traversal of the schema", parquet-file.h:61-63).  The same walk yields
the Parquet schema nodes of the file footer (:func:`parquet_schema`:
groups with their LIST/MAP annotation, leaves with their plan and
``path_in_schema``), so ``parquet_writer`` only serializes them.

Level math is the *correct* Dremel formula (the reference walker passes
``level, level`` for both maxima, avro-schema-walker.cc:244-246, which
over-counts repetition levels — see SURVEY.md §1.3):

    max_def = #(optional steps) + #(repeated steps) along the path
    max_rep = #(repeated steps) along the path

Nullable list fields get the Parquet 3-level treatment (an optional
step for list-null-ness, then a repeated step), so null and empty lists
round-trip distinctly; the reference's bare-REPEATED model
(parquet-column.cc:190-212) is the degenerate non-nullable case.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa

from cpp_parquet_spark.kernels.plain import decimal_type_length

# Physical types per the reference's BytesForDataType
# (parquet-column.cc:269-288). We deviate on timestamps: INT64 micros
# instead of the legacy INT96.
_PHYSICAL = {
    "int8": "INT32",
    "int16": "INT32",
    "int32": "INT32",
    "int64": "INT64",
    "uint8": "INT32",
    "uint16": "INT32",
    "uint32": "INT32",  # UINT_32 may only annotate INT32 (raw bit pattern)
    "uint64": "INT64",
    "float": "FLOAT",
    "double": "DOUBLE",
    "bool": "BOOLEAN",
    "string": "BYTE_ARRAY",
    "large_string": "BYTE_ARRAY",
    "binary": "BYTE_ARRAY",
    "large_binary": "BYTE_ARRAY",
    "date32[day]": "INT32",
}


def _physical_for(t: pa.DataType) -> str:
    if pa.types.is_timestamp(t):
        return "INT64"
    if pa.types.is_fixed_size_binary(t):
        # Avro `fixed` lowering target; type_length travels in the
        # Arrow type (writer emits SchemaElement.type_length from it)
        return "FIXED_LEN_BYTE_ARRAY"
    if pa.types.is_decimal(t):
        # Spark DecimalType → Parquet DECIMAL as FIXED_LEN_BYTE_ARRAY
        # (decimal128: same 16-byte fixed-width buffer layout as FLBA;
        # the wire writer byte-swaps to Parquet's big-endian form)
        return "FIXED_LEN_BYTE_ARRAY"
    name = str(t)
    if name in _PHYSICAL:
        return _PHYSICAL[name]
    raise TypeError(f"unsupported leaf type: {t}")


@dataclass(frozen=True)
class Step:
    """One nesting step on the path root→leaf.

    kind: 'opt' (optional — contributes 1 def level),
          'rep' (repeated — contributes 1 def and 1 rep level),
          'struct' (named grouping, no level contribution by itself).
    """

    kind: str
    name: str = ""


@dataclass(frozen=True)
class ColumnPlan:
    path: tuple[str, ...]  # dotted name path, e.g. ('s1', 's2', 'leaf')
    steps: tuple[Step, ...]
    arrow_type: pa.DataType = field(hash=False)
    physical: str = "BYTE_ARRAY"
    max_def: int = 0
    max_rep: int = 0

    @property
    def dotted(self) -> str:
        return ".".join(self.path)


@dataclass(frozen=True)
class SchemaNode:
    """One Parquet ``SchemaElement`` below the root, in DFS preorder: a
    group (``num_children`` > 0, LIST/MAP-annotated when it heads a
    list or map) or a leaf (``leaf`` set).  ``path`` is the node's
    Parquet path from the root (a leaf's ``path_in_schema``)."""

    name: str
    repetition: str  # 'REQUIRED' | 'OPTIONAL' | 'REPEATED'
    path: tuple[str, ...]
    num_children: int = 0
    annotation: str | None = None  # 'LIST' | 'MAP'
    leaf: ColumnPlan | None = None
    type_length: int | None = None  # FIXED_LEN_BYTE_ARRAY byte width


def _walk_field(
    f: pa.Field,
    path: tuple[str, ...],
    pq_path: tuple[str, ...],
    steps: list[Step],
    out: list[SchemaNode],
    add_name: bool = True,
) -> None:
    steps = list(steps)
    if add_name:
        path = path + (f.name,)
    pq_path = pq_path + (f.name,)
    repetition = "OPTIONAL" if f.nullable else "REQUIRED"
    if f.nullable:
        steps.append(Step("opt", f.name))
    t = f.type
    if pa.types.is_struct(t):
        out.append(SchemaNode(f.name, repetition, pq_path, t.num_fields))
        steps.append(Step("struct", f.name))
        for child in t:
            _walk_field(child, path, pq_path, steps, out)
        return
    if pa.types.is_map(t):
        # standard 3-level MAP group: a repeated key_value group with a
        # required key and the value.  An Arrow MapArray is physically
        # list<struct<key,value>>, so the generic rep+struct machinery
        # shreds it into leaves (name.key, name.value).
        out.append(SchemaNode(f.name, repetition, pq_path, 1, "MAP"))
        kv_path = pq_path + ("key_value",)
        out.append(SchemaNode("key_value", "REPEATED", kv_path, 2))
        steps += [Step("rep", f.name), Step("struct", "key_value")]
        _walk_field(t.key_field.with_name("key"), path, kv_path, steps, out)
        _walk_field(t.item_field.with_name("value"), path, kv_path, steps, out)
        return
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # standard 3-level LIST group; the element contributes no plan
        # path segment of its own (a struct element's fields follow the
        # list's name directly)
        out.append(SchemaNode(f.name, repetition, pq_path, 1, "LIST"))
        out.append(SchemaNode("list", "REPEATED", pq_path + ("list",), 1))
        steps.append(Step("rep", f.name))
        elem = t.value_field.with_name("element")
        _walk_field(elem, path, pq_path + ("list",), steps, out, add_name=False)
        return
    plan = ColumnPlan(
        path=path,
        steps=tuple(steps),
        arrow_type=t,
        physical=_physical_for(t),
        max_def=sum(1 for s in steps if s.kind in ("opt", "rep")),
        max_rep=sum(1 for s in steps if s.kind == "rep"),
    )
    if pa.types.is_decimal(t):
        type_length = decimal_type_length(t.precision)
    elif pa.types.is_fixed_size_binary(t):
        type_length = t.byte_width
    else:
        type_length = None
    out.append(SchemaNode(f.name, repetition, pq_path, leaf=plan, type_length=type_length))


def parquet_schema(schema: pa.Schema) -> list[SchemaNode]:
    """The Parquet schema nodes of an Arrow schema below the root, in
    DFS preorder (the footer's SchemaElement list minus its root); leaf
    nodes carry their column plans."""
    out: list[SchemaNode] = []
    for f in schema:
        _walk_field(f, (), (), [], out)
    return out


def plan_from_schema(schema: pa.Schema) -> list[ColumnPlan]:
    """Flatten an Arrow schema to leaf column plans (DFS preorder)."""
    return [n.leaf for n in parquet_schema(schema) if n.leaf is not None]


def plan_from_spark_schema(spark_schema) -> list[ColumnPlan]:
    """Flatten a Spark ``StructType`` (converted via Arrow)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return plan_from_schema(to_arrow_schema(spark_schema))
