"""Versioned payload schema registry + typed upcast view (SURVEY.md §1.3
schema-on-read; the reference keeps payloads opaque JSONB,
/root/reference/schema.sql:37)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fstore_sql_spark import errors


def _seed(store):
    store.register_decider_event("order", "created", "v1 payload", 1)
    store.register_decider_event("order", "created", "v2 payload", 2)
    store.register_payload_schema("created", 1, "amount BIGINT")
    store.register_payload_schema(
        "created",
        2,
        StructType(
            [
                StructField("amount", LongType()),
                StructField("currency", StringType()),
            ]
        ),
    )
    store.append_event(
        "created", "e1", "order", "A", '{"amount": 5}', event_version=1
    )
    store.append_event(
        "created",
        "e2",
        "order",
        "A",
        '{"amount": 7, "currency": "EUR"}',
        previous_id="e1",
        event_version=2,
    )


class TestTypedPayload:
    def test_mixed_versions_upcast_to_latest(self, store):
        _seed(store)
        t = store.events_typed("created").orderBy("offset")
        # typed to the LATEST version's shape
        payload_type = t.schema["payload"].dataType
        assert [f.name for f in payload_type.fields] == ["amount", "currency"]
        assert payload_type["amount"].dataType.simpleString() == "bigint"
        rows = t.select("event_id", "event_version", "payload.*").collect()
        assert [(r["event_id"], r["amount"], r["currency"]) for r in rows] == [
            ("e1", 5, None),  # v1 upcast: currency is a typed NULL
            ("e2", 7, "EUR"),
        ]

    def test_unregistered_event_raises(self, store):
        with pytest.raises(errors.UnregisteredSchemaError, match="no payload schema"):
            store.events_typed("never_registered")

    def test_unregistered_version_in_log_raises(self, store):
        _seed(store)
        store.register_decider_event("order", "created", "v3 payload", 3)
        store.append_event(
            "created",
            "e3",
            "order",
            "A",
            '{"amount": 9, "currency": "USD", "tax": 1}',
            previous_id="e2",
            event_version=3,
        )
        with pytest.raises(errors.UnregisteredSchemaError, match="version 3"):
            store.events_typed("created")

    def test_duplicate_schema_registration_raises(self, store):
        _seed(store)
        with pytest.raises(errors.DuplicateSchemaError):
            store.register_payload_schema("created", 1, "amount BIGINT")

    def test_schemas_survive_reopen(self, spark, store):
        _seed(store)
        from fstore_sql_spark import EventStore

        reopened = EventStore(spark, store.storage.root)
        rows = reopened.events_typed("created").select("payload.amount").collect()
        assert sorted(r["amount"] for r in rows) == [5, 7]

    def test_late_unregistered_version_fails_loudly_at_eval(self, store):
        """ADVICE r5: a version appended AFTER the typed view was built
        flows into the dispatch CASE's otherwise branch — which must
        raise at evaluation, not yield a silent NULL payload."""
        _seed(store)
        typed = store.events_typed("created")  # snapshots versions {1, 2}
        store.register_decider_event("order", "created", "v9", 9)
        store.append_event(
            "created", "late", "order", "Z", '{"amount": 1}', event_version=9
        )
        with pytest.raises(Exception, match="no payload schema registered"):
            typed.select("payload").collect()

    def test_late_version_after_several_commits_fails_loudly(self, store):
        # the typed view must see every commit made after it was built,
        # not just the next one: the late version lands in the second
        _seed(store)
        typed = store.events_typed("created")  # snapshots versions {1, 2}
        store.append_event(
            "created", "e3", "order", "A", '{"amount": 2}',
            previous_id="e2", event_version=1,
        )
        store.register_decider_event("order", "created", "v9", 9)
        store.append_event(
            "created", "late", "order", "Z", '{"amount": 1}', event_version=9
        )
        with pytest.raises(Exception, match="no payload schema registered"):
            typed.select("payload").collect()


class TestSchemaEvolution:
    """r6 (VERDICT r5 #5): rename + numeric-widening evolution and the
    multi-event typed union view."""

    def _seed_chain(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_decider_event("order", "created", "v3", 3)
        # v1 {qty INT} → v2 renames qty→quantity and widens to BIGINT
        # → v3 adds note STRING
        store.register_payload_schema("created", 1, "qty INT")
        store.register_payload_schema(
            "created", 2, "quantity BIGINT", renamed_from={"quantity": "qty"}
        )
        store.register_payload_schema("created", 3, "quantity BIGINT, note STRING")
        store.append_event("created", "c1", "order", "A", '{"qty": 3}', event_version=1)
        store.append_event(
            "created", "c2", "order", "A", '{"quantity": 4000000000}',
            previous_id="c1", event_version=2,
        )
        store.append_event(
            "created", "c3", "order", "A", '{"quantity": 5, "note": "hi"}',
            previous_id="c2", event_version=3,
        )

    def test_renamed_and_widened_chain_upcasts(self, store):
        self._seed_chain(store)
        t = store.events_typed("created").orderBy("offset")
        payload_type = t.schema["payload"].dataType
        assert [f.name for f in payload_type.fields] == ["quantity", "note"]
        assert payload_type["quantity"].dataType.simpleString() == "bigint"
        rows = t.select("event_id", "payload.*").collect()
        assert [(r["event_id"], r["quantity"], r["note"]) for r in rows] == [
            ("c1", 3, None),  # v1 qty routed into quantity, int → bigint
            ("c2", 4000000000, None),
            ("c3", 5, "hi"),
        ]

    def test_narrowing_rejected(self, store):
        store.register_payload_schema("created", 1, "amount BIGINT")
        with pytest.raises(errors.SchemaEvolutionError, match="not identity or a numeric widening"):
            store.register_payload_schema("created", 2, "amount INT")

    def test_retype_rejected(self, store):
        store.register_payload_schema("created", 1, "amount BIGINT")
        with pytest.raises(errors.SchemaEvolutionError):
            store.register_payload_schema("created", 2, "amount STRING")

    def test_rename_of_missing_field_rejected(self, store):
        store.register_payload_schema("created", 1, "amount BIGINT")
        with pytest.raises(errors.SchemaEvolutionError, match="does not exist"):
            store.register_payload_schema(
                "created", 2, "total BIGINT", renamed_from={"total": "nope"}
            )

    def test_rename_without_previous_version_rejected(self, store):
        with pytest.raises(errors.SchemaEvolutionError, match="no previous version"):
            store.register_payload_schema(
                "created", 1, "total BIGINT", renamed_from={"total": "amount"}
            )

    def test_events_typed_many_merges_shapes(self, store):
        self._seed_chain(store)
        store.register_decider_event("order", "shipped", "v1", 1)
        store.register_payload_schema("shipped", 1, "quantity INT, carrier STRING")
        store.append_event(
            "shipped", "s1", "order", "B", '{"quantity": 2, "carrier": "dhl"}'
        )
        t = store.events_typed_many(["created", "shipped"]).orderBy("offset")
        payload_type = t.schema["payload"].dataType
        # merged shape: created's {quantity BIGINT, note} ∪ shipped's
        # {quantity INT, carrier} — quantity takes the WIDER type
        assert sorted(f.name for f in payload_type.fields) == [
            "carrier", "note", "quantity",
        ]
        assert payload_type["quantity"].dataType.simpleString() == "bigint"
        rows = t.select("event", "event_id", "payload.*").collect()
        got = {
            r["event_id"]: (r["event"], r["quantity"], r["note"], r["carrier"])
            for r in rows
        }
        assert got["c1"] == ("created", 3, None, None)
        assert got["c3"] == ("created", 5, "hi", None)
        assert got["s1"] == ("shipped", 2, None, "dhl")

    def test_events_typed_many_conflicting_types_rejected(self, store):
        store.register_payload_schema("created", 1, "ref BIGINT")
        store.register_payload_schema("shipped", 1, "ref STRING")
        with pytest.raises(errors.SchemaEvolutionError, match="no common widening"):
            store.events_typed_many(["created", "shipped"])

    def test_out_of_order_version_registration_rejected(self, store):
        """ADVICE r6: registering below the current max would skip the
        v-against-next-higher validation and retroactively rewire higher
        versions' rename walks."""
        store.register_payload_schema("created", 1, "amount BIGINT")
        store.register_payload_schema("created", 3, "amount BIGINT, tax BIGINT")
        with pytest.raises(errors.SchemaEvolutionError, match="increasing order"):
            store.register_payload_schema("created", 2, "amount BIGINT")


class TestNestedSchemaEvolution:
    """r7 (VERDICT r6 #3): renames + numeric widening recurse into nested
    structs — the reference's own stress corpus is nested JSONB
    (tests/performance/benchmarks/test_stress_conditions.sql:35-39)."""

    def _seed_nested_chain(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_decider_event("order", "created", "v3", 3)
        # v1 {meta {k INT}} → v2 renames meta.k→meta.k_id + widens to
        # BIGINT → v3 adds meta.note STRING and top-level tag STRING
        store.register_payload_schema("created", 1, "meta STRUCT<k: INT>")
        store.register_payload_schema(
            "created",
            2,
            "meta STRUCT<k_id: BIGINT>",
            renamed_from={"meta.k_id": "meta.k"},
        )
        store.register_payload_schema(
            "created", 3, "meta STRUCT<k_id: BIGINT, note: STRING>, tag STRING"
        )
        store.append_event(
            "created", "n1", "order", "A", '{"meta": {"k": 3}}', event_version=1
        )
        store.append_event(
            "created", "n2", "order", "A", '{"meta": {"k_id": 4000000000}}',
            previous_id="n1", event_version=2,
        )
        store.append_event(
            "created", "n3", "order", "A",
            '{"meta": {"k_id": 5, "note": "hi"}, "tag": "t"}',
            previous_id="n2", event_version=3,
        )

    def test_nested_rename_and_widen_chain_upcasts(self, store):
        self._seed_nested_chain(store)
        t = store.events_typed("created").orderBy("offset")
        meta_t = t.schema["payload"].dataType["meta"].dataType
        assert [f.name for f in meta_t.fields] == ["k_id", "note"]
        assert meta_t["k_id"].dataType.simpleString() == "bigint"
        rows = t.select(
            "event_id",
            F.col("payload.meta.k_id").alias("k_id"),
            F.col("payload.meta.note").alias("note"),
            F.col("payload.tag").alias("tag"),
        ).collect()
        assert [(r["event_id"], r["k_id"], r["note"], r["tag"]) for r in rows] == [
            ("n1", 3, None, None),  # v1 meta.k routed into meta.k_id + widened
            ("n2", 4000000000, None, None),
            ("n3", 5, "hi", "t"),
        ]

    def test_null_nested_struct_stays_null(self, store):
        """A NULL source struct must upcast to a NULL target struct, not
        a struct of NULLs."""
        self._seed_nested_chain(store)
        store.append_event(
            "created", "n4", "order", "B", '{"tag": "only"}', event_version=3
        )
        row = (
            store.events_typed("created")
            .filter(F.col("event_id") == "n4")
            .select("payload")
            .collect()[0]
        )
        assert row["payload"]["meta"] is None
        assert row["payload"]["tag"] == "only"

    def test_renamed_struct_reroots_nested_paths(self, store):
        """Renaming the STRUCT itself re-roots every nested path: v2
        renames meta→info; v1 rows' info.k must source from meta.k."""
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_payload_schema("created", 1, "meta STRUCT<k: INT>")
        store.register_payload_schema(
            "created", 2, "info STRUCT<k: BIGINT>", renamed_from={"info": "meta"}
        )
        store.append_event(
            "created", "r1", "order", "A", '{"meta": {"k": 7}}', event_version=1
        )
        store.append_event(
            "created", "r2", "order", "B", '{"info": {"k": 8}}', event_version=2
        )
        rows = (
            store.events_typed("created")
            .orderBy("offset")
            .select("event_id", F.col("payload.info.k").alias("k"))
            .collect()
        )
        assert [(r["event_id"], r["k"]) for r in rows] == [("r1", 7), ("r2", 8)]

    def test_nested_narrowing_rejected(self, store):
        store.register_payload_schema("created", 1, "meta STRUCT<k: BIGINT>")
        with pytest.raises(
            errors.SchemaEvolutionError, match="not identity or a numeric widening"
        ):
            store.register_payload_schema("created", 2, "meta STRUCT<k: INT>")

    def test_nested_retype_rejected(self, store):
        store.register_payload_schema("created", 1, "meta STRUCT<k: BIGINT>")
        with pytest.raises(errors.SchemaEvolutionError):
            store.register_payload_schema("created", 2, "meta STRUCT<k: STRING>")

    def test_struct_scalar_flip_rejected(self, store):
        store.register_payload_schema("created", 1, "meta STRUCT<k: BIGINT>")
        with pytest.raises(errors.SchemaEvolutionError, match="struct <-> scalar"):
            store.register_payload_schema("created", 2, "meta BIGINT")

    def test_cross_struct_rename_rejected(self, store):
        store.register_payload_schema(
            "created", 1, "a STRUCT<x: BIGINT>, b STRUCT<y: BIGINT>"
        )
        with pytest.raises(
            errors.SchemaEvolutionError, match="crosses struct boundaries"
        ):
            store.register_payload_schema(
                "created",
                2,
                "a STRUCT<x: BIGINT>, b STRUCT<x2: BIGINT>",
                renamed_from={"b.x2": "a.x"},
            )

    def test_nested_rename_of_missing_field_rejected(self, store):
        store.register_payload_schema("created", 1, "meta STRUCT<k: BIGINT>")
        with pytest.raises(errors.SchemaEvolutionError, match="does not exist"):
            store.register_payload_schema(
                "created",
                2,
                "meta STRUCT<k2: BIGINT>",
                renamed_from={"meta.k2": "meta.nope"},
            )


    def test_int_to_float32_widening_rejected(self, store):
        """VERDICT r7 wrong #1: int/bigint → FLOAT passes through a
        24-bit mantissa and silently corrupts values above 2^24 — only
        tinyint/smallint may promote to float; int/bigint need double."""
        store.register_payload_schema("created", 1, "amount INT")
        with pytest.raises(
            errors.SchemaEvolutionError, match="not identity or a numeric widening"
        ):
            store.register_payload_schema("created", 2, "amount FLOAT")

    def test_small_int_to_float_and_int_to_double_allowed(self, store):
        store.register_payload_schema("created", 1, "a SMALLINT, b INT")
        store.register_payload_schema("created", 2, "a FLOAT, b DOUBLE")

    def test_malformed_json_yields_null_payload_not_error(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_payload_schema("created", 1, "amount BIGINT")
        store.append_event("created", "bad1", "order", "B", "not json{", event_version=1)
        row = (
            store.events_typed("created")
            .filter(F.col("event_id") == "bad1")
            .select("payload")
            .collect()[0]
        )
        # from_json semantics: malformed input -> NULL struct (PERMISSIVE),
        # mirroring how the reference's consumers would fail per-row, not
        # per-query
        assert row["payload"] is None or row["payload"]["amount"] is None


class TestArraySchemaEvolution:
    """r8 (VERDICT r7 missing #1): renames + numeric widening recurse into
    array-of-struct ELEMENTS via an F.transform elementwise rebuild — the
    reference's stress corpus builds a 100-element array inside nested
    JSONB (tests/performance/benchmarks/test_stress_conditions.sql:35-39);
    maps widen by value type."""

    def _seed_array_chain(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_decider_event("order", "created", "v3", 3)
        # v1 {items array<{p INT}>} → v2 renames items.p→items.price +
        # widens to BIGINT → v3 renames the ARRAY itself items→entries
        # and adds an element field q STRING
        store.register_payload_schema("created", 1, "items ARRAY<STRUCT<p: INT>>")
        store.register_payload_schema(
            "created",
            2,
            "items ARRAY<STRUCT<price: BIGINT>>",
            renamed_from={"items.price": "items.p"},
        )
        store.register_payload_schema(
            "created",
            3,
            "entries ARRAY<STRUCT<price: BIGINT, q: STRING>>",
            renamed_from={"entries": "items"},
        )
        store.append_event(
            "created", "a1", "order", "A",
            '{"items": [{"p": 3}, {"p": 4}]}', event_version=1,
        )
        store.append_event(
            "created", "a2", "order", "A",
            '{"items": [{"price": 4000000000}]}',
            previous_id="a1", event_version=2,
        )
        store.append_event(
            "created", "a3", "order", "A",
            '{"entries": [{"price": 5, "q": "x"}, {"price": 6, "q": "y"}]}',
            previous_id="a2", event_version=3,
        )

    def test_array_rename_and_widen_chain_upcasts(self, store):
        self._seed_array_chain(store)
        t = store.events_typed("created").orderBy("offset")
        elem_t = t.schema["payload"].dataType["entries"].dataType.elementType
        assert [f.name for f in elem_t.fields] == ["price", "q"]
        assert elem_t["price"].dataType.simpleString() == "bigint"
        rows = t.select("event_id", F.col("payload.entries").alias("e")).collect()
        got = {r["event_id"]: [(x["price"], x["q"]) for x in r["e"]] for r in rows}
        assert got == {
            "a1": [(3, None), (4, None)],  # v1 p routed into price + widened
            "a2": [(4000000000, None)],
            "a3": [(5, "x"), (6, "y")],
        }

    def test_null_array_and_null_elements_preserved(self, store):
        self._seed_array_chain(store)
        store.append_event(
            "created", "a4", "order", "B", '{"items": [{"p": 1}, null]}',
            event_version=1,
        )
        store.append_event(
            "created", "a5", "order", "C", "{}", event_version=1
        )
        rows = (
            store.events_typed("created")
            .filter(F.col("event_id").isin("a4", "a5"))
            .select("event_id", F.col("payload.entries").alias("e"))
            .collect()
        )
        got = {r["event_id"]: r["e"] for r in rows}
        assert got["a4"][0]["price"] == 1
        assert got["a4"][1] is None  # NULL element stays NULL, not {NULL,...}
        assert got["a5"] is None  # missing array stays NULL, not []

    def test_array_scalar_element_widening(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_payload_schema("created", 1, "xs ARRAY<INT>")
        store.register_payload_schema("created", 2, "xs ARRAY<BIGINT>")
        store.append_event(
            "created", "s1", "order", "A", '{"xs": [1, 2]}', event_version=1
        )
        store.append_event(
            "created", "s2", "order", "A", '{"xs": [4000000000]}',
            previous_id="s1", event_version=2,
        )
        rows = (
            store.events_typed("created")
            .orderBy("offset")
            .select(F.col("payload.xs").alias("xs"))
            .collect()
        )
        assert [r["xs"] for r in rows] == [[1, 2], [4000000000]]

    def test_map_value_widening(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_payload_schema("created", 1, "m MAP<STRING, INT>")
        store.register_payload_schema("created", 2, "m MAP<STRING, BIGINT>")
        store.append_event(
            "created", "m1", "order", "A", '{"m": {"a": 1}}', event_version=1
        )
        store.append_event(
            "created", "m2", "order", "A", '{"m": {"b": 4000000000}}',
            previous_id="m1", event_version=2,
        )
        rows = (
            store.events_typed("created")
            .orderBy("offset")
            .select(F.col("payload.m").alias("m"))
            .collect()
        )
        assert [dict(r["m"]) for r in rows] == [{"a": 1}, {"b": 4000000000}]

    def test_array_element_narrowing_rejected(self, store):
        store.register_payload_schema("created", 1, "items ARRAY<STRUCT<p: BIGINT>>")
        with pytest.raises(
            errors.SchemaEvolutionError, match="not identity or a numeric widening"
        ):
            store.register_payload_schema(
                "created", 2, "items ARRAY<STRUCT<p: INT>>"
            )

    def test_array_scalar_flip_rejected(self, store):
        store.register_payload_schema("created", 1, "items ARRAY<STRUCT<p: BIGINT>>")
        with pytest.raises(errors.SchemaEvolutionError, match="shape change"):
            store.register_payload_schema("created", 2, "items BIGINT")

    def test_array_struct_vs_struct_flip_rejected(self, store):
        store.register_payload_schema("created", 1, "items ARRAY<STRUCT<p: BIGINT>>")
        with pytest.raises(errors.SchemaEvolutionError, match="shape change"):
            store.register_payload_schema("created", 2, "items STRUCT<p: BIGINT>")

    def test_rename_across_array_boundary_rejected(self, store):
        store.register_payload_schema("created", 1, "items ARRAY<STRUCT<p: BIGINT>>")
        with pytest.raises(
            errors.SchemaEvolutionError, match="crosses struct boundaries"
        ):
            store.register_payload_schema(
                "created", 2, "p2 BIGINT, items ARRAY<STRUCT<p: BIGINT>>",
                renamed_from={"p2": "items.p"},
            )

    def test_map_key_retype_rejected(self, store):
        store.register_payload_schema("created", 1, "m MAP<STRING, INT>")
        with pytest.raises(errors.SchemaEvolutionError):
            store.register_payload_schema("created", 2, "m MAP<INT, INT>")

    def test_rename_targeting_map_value_rejected(self, store):
        """SCALAR map values carry no paths (map keys are data, not
        schema): a rename path addressing one is rejected as an unknown
        field.  STRUCT map values DO carry paths since r9 — see
        TestMapValueStructEvolution."""
        store.register_payload_schema("created", 1, "m MAP<STRING, INT>")
        with pytest.raises(errors.SchemaEvolutionError, match="not a field"):
            store.register_payload_schema(
                "created", 2, "m MAP<STRING, INT>",
                renamed_from={"m.v2": "m.v"},
            )


class TestMapValueStructEvolution:
    """r9 (VERDICT r8 #6): renames + numeric widening recurse into
    ``map<K, struct<…>>`` VALUE structs via an F.transform_values rebuild
    with the rename map re-rooted at the value struct — the same
    machinery arrays got in r8.  Map KEYS stay data: they pass through
    untouched and their type must stay identical."""

    def _seed_map_chain(self, store):
        store.register_decider_event("order", "created", "v1", 1)
        store.register_decider_event("order", "created", "v2", 2)
        store.register_decider_event("order", "created", "v3", 3)
        # v1 {m map<string,{p INT}>} → v2 renames m.p→m.price + widens to
        # BIGINT → v3 renames the MAP itself m→attrs and adds value
        # field q STRING
        store.register_payload_schema(
            "created", 1, "m MAP<STRING, STRUCT<p: INT>>"
        )
        store.register_payload_schema(
            "created",
            2,
            "m MAP<STRING, STRUCT<price: BIGINT>>",
            renamed_from={"m.price": "m.p"},
        )
        store.register_payload_schema(
            "created",
            3,
            "attrs MAP<STRING, STRUCT<price: BIGINT, q: STRING>>",
            renamed_from={"attrs": "m"},
        )
        store.append_event(
            "created", "m1", "order", "A",
            '{"m": {"a": {"p": 3}, "b": {"p": 4}}}', event_version=1,
        )
        store.append_event(
            "created", "m2", "order", "A",
            '{"m": {"a": {"price": 4000000000}}}',
            previous_id="m1", event_version=2,
        )
        store.append_event(
            "created", "m3", "order", "A",
            '{"attrs": {"a": {"price": 5, "q": "x"}, "b": {"price": 6, "q": "y"}}}',
            previous_id="m2", event_version=3,
        )

    def test_map_value_rename_and_widen_chain_upcasts(self, store):
        self._seed_map_chain(store)
        t = store.events_typed("created").orderBy("offset")
        val_t = t.schema["payload"].dataType["attrs"].dataType.valueType
        assert [f.name for f in val_t.fields] == ["price", "q"]
        assert val_t["price"].dataType.simpleString() == "bigint"
        rows = t.select("event_id", F.col("payload.attrs").alias("m")).collect()
        got = {
            r["event_id"]: {k: (v["price"], v["q"]) for k, v in r["m"].items()}
            for r in rows
        }
        assert got == {
            "m1": {"a": (3, None), "b": (4, None)},  # v1 p → price + widened
            "m2": {"a": (4000000000, None)},
            "m3": {"a": (5, "x"), "b": (6, "y")},
        }

    def test_null_map_and_null_values_preserved(self, store):
        self._seed_map_chain(store)
        store.append_event(
            "created", "m4", "order", "B",
            '{"m": {"a": {"p": 1}, "b": null}}', event_version=1,
        )
        store.append_event(
            "created", "m5", "order", "C", "{}", event_version=1
        )
        rows = (
            store.events_typed("created")
            .filter(F.col("event_id").isin("m4", "m5"))
            .select("event_id", F.col("payload.attrs").alias("m"))
            .collect()
        )
        got = {r["event_id"]: r["m"] for r in rows}
        assert got["m4"]["a"]["price"] == 1
        assert got["m4"]["b"] is None  # NULL value stays NULL, not {NULL,...}
        assert got["m5"] is None  # missing map stays NULL, not {}

    def test_rename_across_map_boundary_rejected(self, store):
        store.register_payload_schema(
            "created", 1, "m MAP<STRING, STRUCT<p: BIGINT>>"
        )
        with pytest.raises(
            errors.SchemaEvolutionError, match="crosses struct boundaries"
        ):
            store.register_payload_schema(
                "created", 2, "p2 BIGINT, m MAP<STRING, STRUCT<p: BIGINT>>",
                renamed_from={"p2": "m.p"},
            )

    def test_map_value_struct_key_retype_rejected(self, store):
        """Value structs validate field-by-field, but the KEY type is
        data and may never change — the r9 map<struct> continue-branch
        must not let a key retype slip through."""
        store.register_payload_schema(
            "created", 1, "m MAP<STRING, STRUCT<p: BIGINT>>"
        )
        with pytest.raises(
            errors.SchemaEvolutionError, match="map key type"
        ):
            store.register_payload_schema(
                "created", 2, "m MAP<INT, STRUCT<p: BIGINT>>"
            )

    def test_map_value_field_narrowing_rejected(self, store):
        store.register_payload_schema(
            "created", 1, "m MAP<STRING, STRUCT<p: BIGINT>>"
        )
        with pytest.raises(
            errors.SchemaEvolutionError, match="not identity or a numeric widening"
        ):
            store.register_payload_schema(
                "created", 2, "m MAP<STRING, STRUCT<p: INT>>"
            )


# --------------------------------------------------------------------- #
# r8 (VERDICT r7 next-round #6): property-based evolution-chain fuzz;
# r9 extends the tree model with map<string, struct> nodes (VERDICT r8 #6).
# Chains are generated over a TREE model where every field carries a
# persistent uid; values are a pure function of (uid, row, element), so
# the expected typed view is computed from field IDENTITY alone —
# completely independent of the rename-walk code under test.
# --------------------------------------------------------------------- #

import copy as _copy
import itertools as _it
import json as _json
import random as _random

_SCALARS = ["smallint", "int", "bigint", "float", "double", "string"]
_WIDEN = {
    "smallint": ["int", "bigint", "float", "double"],
    "int": ["bigint", "double"],
    "bigint": ["double"],
    "float": ["double"],
    "double": [],
    "string": [],
}
# type changes that must be REJECTED (narrowing / retype / lossy)
_INVALID_RETYPE = {
    "smallint": ["string"],
    "int": ["smallint", "float", "string"],
    "bigint": ["int", "float", "string"],
    "float": ["int", "string"],
    "double": ["float", "bigint", "string"],
    "string": ["int"],
}


def _scalar(uid, t):
    return {"kind": "scalar", "type": t, "uid": uid}


def _gen_struct(rng, uids, depth, n_min=2, n_max=4):
    fields = {}
    for _ in range(rng.randint(n_min, n_max)):
        uid = next(uids)
        name = f"f{uid}"
        roll = rng.random()
        if depth < 2 and roll < 0.2:
            fields[name] = {
                "kind": "struct",
                "uid": uid,
                "fields": _gen_struct(rng, uids, depth + 1, 1, 3)["fields"],
            }
        elif depth < 2 and roll < 0.35:
            fields[name] = {
                "kind": "array",
                "uid": uid,
                "elem": _gen_struct(rng, uids, depth + 1, 1, 3),
            }
        elif depth < 2 and roll < 0.45:
            # r9: map<string, struct> — value-struct fields evolve like
            # array elements; keys ("ka"/"kb") are data
            fields[name] = {
                "kind": "map",
                "uid": uid,
                "val": _gen_struct(rng, uids, depth + 1, 1, 3),
            }
        else:
            fields[name] = _scalar(uid, rng.choice(_SCALARS))
    return {"kind": "struct", "uid": None, "fields": fields}


def _to_spark(node):
    from pyspark.sql import types as T

    _S = {
        "smallint": T.ShortType(), "int": T.IntegerType(),
        "bigint": T.LongType(), "float": T.FloatType(),
        "double": T.DoubleType(), "string": T.StringType(),
    }
    if node["kind"] == "scalar":
        return _S[node["type"]]
    if node["kind"] == "array":
        return T.ArrayType(_to_spark(node["elem"]))
    if node["kind"] == "map":
        return T.MapType(T.StringType(), _to_spark(node["val"]))
    return T.StructType(
        [T.StructField(n, _to_spark(c)) for n, c in node["fields"].items()]
    )


def _sites(tree, prefix=()):
    """Every (dotted-path, parent-fields-dict, name, node), walking
    through structs and array ELEMENTS (path components are plain names,
    mirroring the dotted-rename convention)."""
    out = []
    for name, node in tree["fields"].items():
        p = prefix + (name,)
        out.append((p, tree["fields"], name, node))
        if node["kind"] == "struct":
            out.extend(_sites(node, p))
        elif node["kind"] == "array":
            out.extend(_sites(node["elem"], p))
        elif node["kind"] == "map":
            out.extend(_sites(node["val"], p))
    return out


def _mutate_valid(rng, tree, uids):
    """One randomly chosen valid evolution step applied in place to a
    deep copy; returns (new_tree, renamed_from)."""
    t = _copy.deepcopy(tree)
    renamed = {}
    ops = rng.sample(["widen", "add", "drop", "rename"], k=rng.randint(1, 3))
    # renames go first: they must reference PREVIOUS-version paths, so
    # they may not target a field added (or re-pathed) this same step
    ops.sort(key=lambda o: o != "rename")
    for op in ops:
        sites = _sites(t)
        if op == "widen":
            cands = [
                s for s in sites
                if s[3]["kind"] == "scalar" and _WIDEN[s[3]["type"]]
            ]
            if cands:
                _, parent, name, node = rng.choice(cands)
                node["type"] = rng.choice(_WIDEN[node["type"]])
        elif op == "add":
            structs = [t] + [
                s[3] for s in sites if s[3]["kind"] == "struct"
            ] + [s[3]["elem"] for s in sites if s[3]["kind"] == "array"
            ] + [s[3]["val"] for s in sites if s[3]["kind"] == "map"]
            target = rng.choice(structs)
            uid = next(uids)
            target["fields"][f"f{uid}"] = _scalar(uid, rng.choice(_SCALARS))
        elif op == "drop":
            if len(t["fields"]) > 1:
                # drop only top-level scalars: dropping a container that
                # holds a field renamed THIS step would invalidate the
                # rename bookkeeping
                protected = {k.split(".")[0] for k in renamed}
                cands = [
                    (p, parent, name)
                    for p, parent, name, node in sites
                    if len(p) == 1 and node["kind"] == "scalar"
                    and name in t["fields"] and name not in protected
                ]
                if cands:
                    _, parent, name = rng.choice(cands)
                    del parent[name]
        elif op == "rename" and not renamed:  # at most one rename/version
            cands = [s for s in sites]
            if cands:
                p, parent, name, node = rng.choice(cands)
                uid = node["uid"]
                new_name = f"f{uid}r{rng.randint(0, 999)}"
                if new_name not in parent:
                    parent[new_name] = parent.pop(name)
                    renamed[".".join(p[:-1] + (new_name,))] = ".".join(p)
    return t, renamed


def _mutate_invalid(rng, tree):
    """One mutation that validate_evolution MUST reject."""
    t = _copy.deepcopy(tree)
    sites = _sites(t)
    kinds = ["retype", "flip", "ghost_rename", "cross_rename"]
    rng.shuffle(kinds)
    for kind in kinds:
        if kind == "retype":
            cands = [
                s for s in sites
                if s[3]["kind"] == "scalar" and _INVALID_RETYPE[s[3]["type"]]
            ]
            if cands:
                _, parent, name, node = rng.choice(cands)
                node["type"] = rng.choice(_INVALID_RETYPE[node["type"]])
                return t, {}
        elif kind == "flip":
            cands = [s for s in sites if s[3]["kind"] != "scalar"]
            if cands:
                _, parent, name, node = rng.choice(cands)
                parent[name] = _scalar(node["uid"], "bigint")
                return t, {}
        elif kind == "ghost_rename":
            uid = 99999
            t["fields"][f"f{uid}"] = _scalar(uid, "bigint")
            return t, {f"f{uid}": "no_such_field"}
        elif kind == "cross_rename":
            # move a nested field to the top level: crosses a boundary
            cands = [s for s in sites if len(s[0]) > 1]
            if cands:
                p, parent, name, node = rng.choice(cands)
                if name not in t["fields"]:
                    t["fields"][name] = parent.pop(name)
                    return t, {name: ".".join(p)}
    # fallback: plain narrowing of any widenable-in-reverse scalar
    _, parent, name, node = rng.choice(
        [s for s in sites if s[3]["kind"] == "scalar"]
    )
    node["type"] = "smallint" if node["type"] != "smallint" else "string"
    return t, {}


def _value(uid, t, i, j=0):
    """Pure function of field identity — the independent oracle.  All
    numerics are exactly representable in float32, so widening across
    the whole lattice preserves them bit-exactly."""
    if t == "string":
        return f"s{uid}_{i}_{j}"
    base = (uid * 97 + i * 7 + j * 3) % 100
    if t == "smallint":
        return base
    if t in ("float", "double"):
        return float(base + 1000)
    if t == "bigint":
        return base + 3_000_000_000 if uid % 2 else base
    return base + 10_000  # int


def _row_json(tree, i):
    def build(node, j=0):
        if node["kind"] == "scalar":
            return _value(node["uid"], node["type"], i, j)
        if node["kind"] == "array":
            return [build(node["elem"], jj) for jj in range(2)]
        if node["kind"] == "map":
            return {"ka": build(node["val"], 0), "kb": build(node["val"], 1)}
        return {n: build(c, j) for n, c in node["fields"].items()}

    return _json.dumps(build(tree))


def _uid_types(tree):
    """{uid: scalar type} + {uid: 'struct'/'array'} for one version."""
    out = {}

    def walk(node):
        if node["kind"] == "scalar":
            out[node["uid"]] = node["type"]
            return
        if node["kind"] == "array":
            out[node["uid"]] = "array"
            walk_struct(node["elem"])
            return
        if node["kind"] == "map":
            out[node["uid"]] = "map"
            walk_struct(node["val"])
            return
        out[node["uid"]] = "struct"
        walk_struct(node)

    def walk_struct(st):
        for c in st["fields"].values():
            walk(c)

    walk_struct(tree)
    return out


def _expected(latest, at_version_types, i):
    """Expected latest-shape value dict for a row written at a version
    whose uid->type map is ``at_version_types`` — field identity only."""
    def build(node, j=0):
        if node["uid"] is not None and node["uid"] not in at_version_types:
            return None
        if node["kind"] == "scalar":
            t = at_version_types[node["uid"]]
            v = _value(node["uid"], t, i, j)
            return float(v) if node["type"] in ("float", "double") else v
        if node["kind"] == "array":
            return [build_struct(node["elem"], jj) for jj in range(2)]
        if node["kind"] == "map":
            return {
                "ka": build_struct(node["val"], 0),
                "kb": build_struct(node["val"], 1),
            }
        return build_struct(node, j)

    def build_struct(st, j=0):
        return {n: build(c, j) for n, c in st["fields"].items()}

    return build_struct(latest)


def _gen_chain(seed):
    rng = _random.Random(seed)
    uids = _it.count(1)
    versions = [(1, _gen_struct(rng, uids, 0), {})]
    for v in range(2, rng.randint(3, 6) + 1):
        t, renamed = _mutate_valid(rng, versions[-1][1], uids)
        versions.append((v, t, renamed))
    return rng, versions


class TestEvolutionFuzz:
    def test_random_valid_chains_accepted_and_invalid_rejected(self):
        """250 seeded chains: every generated valid step must validate
        clean; one injected invalid mutation on the tail must reject."""
        from fstore_sql_spark.functions.typed_payload import validate_evolution

        for seed in range(250):
            rng, versions = _gen_chain(seed)
            for (pv, pt, _), (nv, nt, renamed) in zip(versions, versions[1:]):
                problems = validate_evolution(
                    _to_spark(pt), _to_spark(nt), renamed
                )
                assert problems == [], (seed, pv, nv, problems, renamed)
            bad, bad_renames = _mutate_invalid(rng, versions[-1][1])
            problems = validate_evolution(
                _to_spark(versions[-1][1]), _to_spark(bad), bad_renames
            )
            assert problems, (seed, "invalid mutation accepted", bad_renames)

    def test_typed_view_matches_identity_oracle(self, spark):
        """A sample of chains end-to-end through Spark: rows JSON-encoded
        per version, dispatched through typed_payload_column, and checked
        field-by-field against the uid-identity oracle."""
        from fstore_sql_spark.functions.typed_payload import (
            typed_payload_column,
        )

        for seed in (0, 1, 2, 3, 5, 8, 13, 21, 34, 55):
            _, versions = _gen_chain(seed)
            latest = versions[-1][1]
            rows, expected = [], []
            for v, tree, _ in versions:
                types_v = _uid_types(tree)
                for i in range(3):
                    rows.append((len(rows), v, _row_json(tree, i)))
                    expected.append(_expected(latest, types_v, i))
            df = spark.createDataFrame(
                rows, "row_id long, event_version long, data string"
            )
            schemas = {v: _to_spark(t) for v, t, _ in versions}
            renames = {v: r for v, t, r in versions if r}
            typed = df.withColumn(
                "payload",
                typed_payload_column(
                    F.col("data"), F.col("event_version"), schemas,
                    renames=renames,
                ),
            )
            got = {
                r["row_id"]: r["payload"].asDict(recursive=True)
                for r in typed.select("row_id", "payload").collect()
            }
            for rid, exp in enumerate(expected):
                assert got[rid] == exp, (seed, rid, got[rid], exp)
