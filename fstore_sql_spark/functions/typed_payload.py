"""Version-dispatched typed payload extraction (schema-on-read upcast).

The engine extension SURVEY.md §1.3 sketches: per-(event, event_version)
payload StructTypes are registered in the ``payload_schemas`` state table;
``EventStore.events_typed`` applies the matching ``from_json`` per version
and upcasts every older version to the LATEST version's shape — fields the
old version lacks become typed NULLs, fields it dropped are omitted,
same-named fields are cast to the latest type, and RENAMED fields are
routed to their old name per version while numeric types may WIDEN
(int → bigint, float → double, …).  Renames and widenings recurse
into NESTED STRUCTS: rename maps address fields by
dotted path (``{"meta.k_id": "meta.k"}``), a renamed struct re-roots its
nested paths, and upcasting rebuilds nested structs field-by-field with
NULL parents preserved.  The reference keeps payloads opaque JSONB and
leaves typing to consumers (``data JSONB`` —
/root/reference/schema.sql:37); this makes the read-side contract explicit
while the log stays schemaless.

Everything is built from ``from_json`` + ``struct`` + a ``CASE`` chain —
JVM-native, codegen-friendly, zero Python row work, so the typed view costs
the same as any expression projection at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def as_struct_type(schema) -> StructType:
    """Accept a StructType or a Spark DDL string ('k BIGINT, q STRING')."""
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


# Numeric widening lattice (register-time evolution validation): a field may
# evolve its type only along these edges (or stay identical) — anything else
# is a silent-data-loss rewrite and is rejected loudly at registration.
_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
_FLOAT_RANK = {"float": 1, "double": 2}


def is_widening(old: DataType, new: DataType) -> bool:
    """True when ``old`` → ``new`` is the identity or a safe widening:
    integral → wider integral, float → double, tinyint/smallint → float,
    any integral → double (documented: a bigint near 2^63 loses precision
    in double — the standard SQL promotion trade, same as Postgres
    int8 → float8; int/bigint → FLOAT is REJECTED — float's
    24-bit mantissa silently corrupts values above 2^24), or
    a STRUCT whose every old field exists in the new
    struct under the same name with a widening type (the new struct may
    ADD fields — old rows read them as typed NULLs).  Struct widening is
    a proper partial order: both directions hold only for equal shapes,
    so ``events_typed_many``'s widest-wins merge stays deterministic.
    ARRAYS widen elementwise (so
    ``array<struct<…>>`` follows the struct rule) and MAPS widen by
    value type with the key type held identical."""
    if old == new:
        return True
    if isinstance(old, ArrayType) and isinstance(new, ArrayType):
        return is_widening(old.elementType, new.elementType)
    if isinstance(old, MapType) and isinstance(new, MapType):
        return old.keyType == new.keyType and is_widening(
            old.valueType, new.valueType
        )
    if isinstance(old, StructType) and isinstance(new, StructType):
        new_fields = {f.name: f.dataType for f in new.fields}
        return all(
            f.name in new_fields and is_widening(f.dataType, new_fields[f.name])
            for f in old.fields
        )
    o, n = old.simpleString(), new.simpleString()
    if o in _INT_RANK and n in _INT_RANK:
        return _INT_RANK[o] <= _INT_RANK[n]
    if o in _FLOAT_RANK and n in _FLOAT_RANK:
        return _FLOAT_RANK[o] <= _FLOAT_RANK[n]
    if o in _INT_RANK and n in _FLOAT_RANK:
        # integral → floating only where the mantissa holds every value
        # of the integral type exactly: tinyint/smallint fit float's
        # 24-bit mantissa; int/bigint must go to double (53-bit — the
        # documented bigint-near-2^63 trade).  int/bigint → float would
        # silently corrupt values above 2^24.
        return _FLOAT_RANK[n] == 2 or _INT_RANK[o] <= 2
    return False


def all_paths(schema: StructType, prefix: tuple = ()) -> "list[tuple]":
    """Every field path of ``schema``, depth-first, as name tuples —
    struct fields are listed both as a path themselves and recursed
    into.  ``array<struct<…>>`` fields also recurse into their ELEMENT
    struct (the path addresses the element field — traversal through
    the array is implicit, mirroring ``type_at``), and
    ``map<K, struct<…>>`` fields recurse into their
    VALUE struct the same way — map KEYS stay data (no per-key paths),
    but the value struct's FIELDS are schema and get paths.  Paths are
    the unit of the nested rename/widen machinery."""
    out = []
    for f in schema.fields:
        p = prefix + (f.name,)
        out.append(p)
        dt = f.dataType
        if isinstance(dt, ArrayType) and isinstance(dt.elementType, StructType):
            out.extend(all_paths(dt.elementType, p))
        elif isinstance(dt, MapType) and isinstance(dt.valueType, StructType):
            out.extend(all_paths(dt.valueType, p))
        elif isinstance(dt, StructType):
            out.extend(all_paths(dt, p))
    return out


def type_at(schema: StructType, path: tuple) -> "DataType | None":
    """The DataType at a field path, or None if any component is missing
    (or a non-struct is traversed into).  Traversal INTO an
    ``array<struct<…>>`` transparently unwraps to the element struct:
    ``type_at(s, ("items",))`` is the ArrayType itself,
    ``type_at(s, ("items", "price"))`` is the element field's type.
    ``map<K, struct<…>>`` unwraps to the value struct the same way."""
    dt: DataType = schema
    for name in path:
        if isinstance(dt, ArrayType) and isinstance(dt.elementType, StructType):
            dt = dt.elementType
        if isinstance(dt, MapType) and isinstance(dt.valueType, StructType):
            dt = dt.valueType
        if not isinstance(dt, StructType):
            return None
        hit = next((f.dataType for f in dt.fields if f.name == name), None)
        if hit is None:
            return None
        dt = hit
    return dt


def _source_path(path: tuple, renames: "dict[str, str]") -> tuple:
    """Resolve one version-step of renames for a field path: an exact
    dotted match wins; otherwise the parent resolves recursively and the
    leaf name is kept (so a renamed STRUCT transparently re-roots every
    nested path under its old name)."""
    if not path:
        return path
    hit = renames.get(".".join(path))
    if hit is not None:
        return tuple(hit.split("."))
    return _source_path(path[:-1], renames) + (path[-1],)


def source_path_for_version(
    path: tuple,
    from_version: int,
    versions: "list[int]",
    renames: "dict[int, dict[str, str]]",
) -> tuple:
    """Resolve what a LATEST-shape field path was called in
    ``from_version``: walk the rename maps of every version NEWER than
    ``from_version`` backwards (a version's ``renames`` maps its new
    dotted path → the previous version's dotted path).  E.g. v2 renames
    {"meta.k_id": "meta.k"}: for v1 rows, target path ("meta", "k_id")
    sources from ("meta", "k")."""
    p = tuple(path)
    for v in sorted(versions, reverse=True):
        if v <= from_version:
            break
        p = _source_path(p, renames.get(v, {}))
    return p


def upcast_struct(
    parsed: Column,
    from_schema: StructType,
    to_schema: StructType,
    field_sources: "dict[str, str] | None" = None,
) -> Column:
    """Project a parsed payload struct onto ``to_schema``, recursively:
    shared (or rename-routed, via ``field_sources`` dotted target path →
    dotted source path) fields cast to the target type, missing fields as
    typed NULLs, nested structs rebuilt field-by-field with NULL parents
    preserved (a NULL source struct stays a NULL target struct, not a
    struct of NULLs).  ``array<struct<…>>`` fields rebuild ELEMENTWISE via
    ``F.transform`` — renames/widenings recurse into the element shape
    with the rename map re-rooted at the element (``validate_evolution``
    guarantees renames never cross an array boundary), NULL elements and
    NULL arrays preserved — and map values upcast via ``cast`` (scalar
    widening) or ``F.transform_values`` with the rename map re-rooted at
    the VALUE struct (value-struct fields rename and
    widen like array elements; map KEYS stay data, never schema, and are
    passed through untouched).  Still pure
    ``struct``/``cast``/``when``/``transform`` composition — codegen,
    zero shuffle."""
    sources = {k: v for k, v in (field_sources or {}).items()}

    def col_at(path: tuple) -> Column:
        c = parsed
        for name in path:
            c = c[name]
        return c

    def rebuilt_element(el: Column, from_el, to_el, rel_sources) -> Column:
        inner = upcast_struct(el, from_el, to_el, rel_sources)
        return F.when(el.isNotNull(), inner).otherwise(F.lit(None).cast(to_el))

    def build(to_dt: DataType, path: tuple) -> Column:
        sp = _source_path(path, sources)
        from_dt = type_at(from_schema, sp)
        if from_dt is None:
            return F.lit(None).cast(to_dt)
        if isinstance(to_dt, StructType) and isinstance(from_dt, StructType):
            inner = F.struct(
                *[
                    build(f.dataType, path + (f.name,)).alias(f.name)
                    for f in to_dt.fields
                ]
            )
            src = col_at(sp)
            return F.when(src.isNotNull(), inner).otherwise(
                F.lit(None).cast(to_dt)
            )
        if isinstance(to_dt, ArrayType) and isinstance(from_dt, ArrayType):
            to_el, from_el = to_dt.elementType, from_dt.elementType
            if isinstance(to_el, StructType) and isinstance(from_el, StructType):
                # re-root the rename map at the array element: global
                # dotted entries under this array field become relative
                # to the element struct (source side re-rooted at the
                # — possibly renamed — source array path)
                tgt_pfx = ".".join(path) + "."
                src_pfx = ".".join(sp) + "."
                rel = {
                    k[len(tgt_pfx):]: v[len(src_pfx):]
                    for k, v in sources.items()
                    if k.startswith(tgt_pfx) and v.startswith(src_pfx)
                }
                return F.transform(
                    col_at(sp),
                    lambda el: rebuilt_element(el, from_el, to_el, rel),
                )
            return col_at(sp).cast(to_dt)
        if isinstance(to_dt, MapType) and isinstance(from_dt, MapType):
            to_v, from_v = to_dt.valueType, from_dt.valueType
            if isinstance(to_v, StructType) and isinstance(from_v, StructType):
                # re-root the rename map at the map VALUE struct,
                # exactly like the array-element path:
                # keys are data and never rename, value-struct fields are
                # schema and rename/widen like any nested struct
                tgt_pfx = ".".join(path) + "."
                src_pfx = ".".join(sp) + "."
                rel = {
                    k[len(tgt_pfx):]: v[len(src_pfx):]
                    for k, v in sources.items()
                    if k.startswith(tgt_pfx) and v.startswith(src_pfx)
                }
                return F.transform_values(
                    col_at(sp),
                    lambda _k, v: rebuilt_element(v, from_v, to_v, rel),
                )
            return col_at(sp).cast(to_dt)
        return col_at(sp).cast(to_dt)

    return F.struct(
        *[build(f.dataType, (f.name,)).alias(f.name) for f in to_schema.fields]
    )


def typed_payload_column(
    data_col: Column,
    version_col: Column,
    schemas: dict[int, "StructType | str"],
    renames: "dict[int, dict[str, str]] | None" = None,
    target_schema: "StructType | str | None" = None,
    unmatched: str = "null",
) -> Column:
    """The ``payload`` column of the typed view: dispatch on
    ``version_col``, parse ``data_col`` with that version's schema, upcast
    to the latest version's shape (or an explicit ``target_schema`` — the
    multi-event union view passes the merged shape).

    ``renames`` maps version → {new_name: previous_name} so older rows'
    fields route to their historical names (see ``source_path_for_version``).

    ``unmatched`` controls rows whose version has no registered schema:
    ``"null"`` yields a NULL payload (the pure-function default — callers
    pre-validate); ``"error"`` raises at EVALUATION time via
    ``raise_error`` so versions appended AFTER a view was constructed
    fail loudly instead of masquerading as parse failures —
    the CASE branch only evaluates for unmatched rows, so registered
    data never pays it."""
    if not schemas:
        raise ValueError("typed_payload_column needs at least one schema")
    if unmatched not in ("null", "error"):
        raise ValueError(f"unmatched must be 'null' or 'error': {unmatched!r}")
    parsed_schemas = {int(v): as_struct_type(s) for v, s in schemas.items()}
    versions = sorted(parsed_schemas)
    renames = {int(v): dict(m) for v, m in (renames or {}).items()}
    latest = (
        as_struct_type(target_schema)
        if target_schema is not None
        else parsed_schemas[versions[-1]]
    )
    expr = None
    for v in versions:
        sv = parsed_schemas[v]
        # fully-resolved source path (possibly nested) for EVERY latest
        # path in version v's shape; only differing paths are recorded —
        # upcast_struct's exact-dotted-match resolution then needs no
        # cross-version walk of its own
        sources = {}
        for p in all_paths(latest):
            sp = source_path_for_version(p, v, versions, renames)
            if sp != p:
                sources[".".join(p)] = ".".join(sp)
        branch = upcast_struct(F.from_json(data_col, sv), sv, latest, sources)
        cond = version_col == F.lit(v)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    if unmatched == "error":
        loud = F.raise_error(
            F.concat(
                F.lit("no payload schema registered for version "),
                F.coalesce(version_col.cast("string"), F.lit("NULL")),
                F.lit(
                    " (appended after the typed view was constructed? "
                    "the view snapshots the registry at construction — "
                    "rebuild it after registering the version)"
                ),
            )
        ).cast(latest)
        return expr.otherwise(loud)
    return expr.otherwise(F.lit(None).cast(latest))


def validate_evolution(
    prev: StructType,
    new: StructType,
    renamed_from: "dict[str, str] | None",
) -> "list[str]":
    """Register-time evolution check for a NEW latest version against the
    previous latest, recursing into nested structs (the reference's own
    stress corpus is nested JSONB,
    tests/performance/benchmarks/test_stress_conditions.sql:35-39): every
    new-version field PATH (dotted for nested, e.g. ``meta.k_id``) must
    be (a) brand new, (b) same path with identical or widened type, or
    (c) an explicit rename (``renamed_from["meta.k_id"] = "meta.k"``)
    with identical or widened type.  Paths traverse
    ``array<struct<…>>`` elements too (``items.price`` addresses the
    element field of array ``items``), so element fields may rename,
    widen, be added, or be dropped exactly like struct fields;
    ``map<K, struct<…>>`` VALUE-struct fields carry
    paths the same way (``m.price`` addresses the value field of map
    ``m``) and rename/widen/add/drop like array elements — map KEYS
    remain data (key type must stay identical; scalar map values widen
    but carry no paths, so a rename targeting one is still rejected as
    an unknown field).  A rename may only move a field
    within its own (possibly itself renamed) struct, array element, or
    map value — a cross-struct, array-, or map-boundary move has no
    lossless columnar rewrite.  Dropping a field (top-level
    or nested) is allowed: the typed view simply omits it.  Returns a
    list of violation strings (empty = valid); silent narrowing/retyping
    is the schema-registry analogue of the log's R1-R4 immutability
    rules."""
    renamed_from = dict(renamed_from or {})
    problems = []
    new_paths = {".".join(p) for p in all_paths(new)}
    for new_name, old_name in renamed_from.items():
        op = tuple(old_name.split("."))
        np = tuple(new_name.split("."))
        if type_at(prev, op) is None:
            problems.append(
                f"rename {new_name!r} <- {old_name!r}: {old_name!r} does "
                "not exist in the previous version"
            )
        if new_name == old_name:
            problems.append(f"rename {new_name!r} <- {old_name!r} is a no-op")
        if new_name not in new_paths:
            problems.append(
                f"rename target {new_name!r} is not a field of the new version"
            )
        if _source_path(np[:-1], renamed_from) != op[:-1]:
            problems.append(
                f"rename {new_name!r} <- {old_name!r} crosses struct "
                "boundaries (a field may only rename within its own struct)"
            )
    def kind(t: DataType) -> str:
        if isinstance(t, StructType):
            return "struct"
        if isinstance(t, ArrayType) and isinstance(t.elementType, StructType):
            return "array<struct>"
        if isinstance(t, ArrayType):
            return "array"
        if isinstance(t, MapType) and isinstance(t.valueType, StructType):
            return "map<struct>"
        if isinstance(t, MapType):
            return "map"
        return "scalar"

    for p in all_paths(new):
        sp = _source_path(p, renamed_from)
        old_t = type_at(prev, sp)
        if old_t is None:
            continue  # brand-new field (missing renames were caught above)
        new_t = type_at(new, p)
        ok, nk = kind(old_t), kind(new_t)
        if ok == nk == "map<struct>":
            # value-struct fields validate field-by-field via the nested
            # paths, but the KEY type is data and must stay identical
            if old_t.keyType != new_t.keyType:
                problems.append(
                    f"field {'.'.join(p)!r}: map key type "
                    f"{old_t.keyType.simpleString()} -> "
                    f"{new_t.keyType.simpleString()} must stay identical "
                    "(map keys are data, not schema)"
                )
            continue
        if ok == nk and nk in ("struct", "array<struct>"):
            continue  # validated field-by-field via the nested paths
        if ok != nk:
            problems.append(
                f"field {'.'.join(p)!r}: {old_t.simpleString()} -> "
                f"{new_t.simpleString()} is not identity or a numeric "
                f"widening ({ok} <-> {nk} shape change)"
            )
        elif not is_widening(old_t, new_t):
            problems.append(
                f"field {'.'.join(p)!r}: {old_t.simpleString()} -> "
                f"{new_t.simpleString()} is not identity or a numeric "
                "widening"
            )
    return problems
