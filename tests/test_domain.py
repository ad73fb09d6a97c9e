"""Declarative domain-model layer + generic Pipe orchestration tests.

Mirrors the reference's model tests (tests/unit_test_model/test02_dv.py:29-50
for name derivation / member order; tests/unit_tests_basic/_domainmodel.py:
82-131 for subtype entities, HybridLink with LinkReference +
DynamicLinkReference) and its pipeline run-order contract
(pyelt/pipeline.py:657-744)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pyelt_spark.plans.domain import (
    Col,
    DynamicLinkReference,
    HubEntity,
    HybridLink,
    HybridSat,
    Link,
    LinkEntity,
    LinkReference,
    Sat,
    camel_to_snake,
)
from pyelt_spark.plans.pipe import (
    EntityViewToEntityMapping,
    Pipe,
    SorToEntityMapping,
    SorToLinkMapping,
    SorToValueSetMapping,
)

TS = dt.datetime(2024, 1, 1)


# --------------------------------------------------------------------------
# declared test domain (reference _domainmodel.py shape, transcript-free)
# --------------------------------------------------------------------------


class Foo(HubEntity):
    __bk__ = ["foo_id"]

    class Default(Sat):
        test1 = Col()
        test1a = Col()

    class Bar(Sat):
        test2 = Col()


class Baz(Foo):
    """Subtype entity: shares foo's hub (reference Organisatie →
    Zorginstelling pattern)."""

    class Qux(Sat):
        test4 = Col()


class Patient(HubEntity):
    __bk__ = ["patient_id"]

    class Default(Sat):
        naam = Col()

    class Adres(HybridSat):
        class Types:
            postadres = "postadres"
            bezoekadres = "bezoekadres"

        straat = Col()


class Handeling(HubEntity):
    __bk__ = ["handeling_id"]

    class Default(Sat):
        naam = Col()


class PatientHandelingLink(LinkEntity):
    class Link(HybridLink):
        class Types:
            hulpverlener = "hulpverlener"
            locatie = "locatie"

        patient = LinkReference(Patient)
        handeling = LinkReference(Handeling)
        dynamic = DynamicLinkReference(type_col="dyn_type", key_col="dyn_key")


# --------------------------------------------------------------------------
# name derivation / member order (test02_dv.py parity)
# --------------------------------------------------------------------------


def test_sat_names():
    assert Foo.Default.cls_get_name() == "foo_sat"
    assert Foo.Bar.cls_get_name() == "foo_sat_bar"
    assert Baz.Qux.cls_get_name() == "foo_sat_qux"
    assert Baz.Default.cls_get_name() == "foo_sat"
    assert Foo.__hub_name__ == "foo_hub"
    assert Baz.__hub_name__ == "foo_hub"  # subtype shares the base hub


def test_sat_short_names():
    assert Foo.Default.cls_get_short_name() == "default"
    assert Foo.Bar.cls_get_short_name() == "bar"
    assert Baz.Qux.cls_get_short_name() == "qux"


def test_subtype_marker():
    assert Foo.__subtype__ == ""
    assert Baz.__subtype__ == "baz"


def test_ordered_columns_across_mro():
    cols = Foo.Default.cls_get_columns()
    assert [c.name for c in cols] == ["test1", "test1a"]
    # subtype entity inherits base sats plus its own
    assert list(Baz.__sats__) == ["foo_sat", "foo_sat_bar", "foo_sat_qux"]


def test_camel_to_snake():
    assert camel_to_snake("PatientAdres") == "patient_adres"
    assert camel_to_snake("ZorgverlenerHub") == "zorgverlener_hub"


def test_hybrid_sat_grain_and_types():
    assert Patient.Adres.cls_get_name() == "patient_sat_adres"
    assert Patient.Adres.grain_cols() == ["type"]
    assert sorted(Patient.Adres.cls_get_types()) == ["bezoekadres", "postadres"]


def test_hybrid_link_declaration():
    assert PatientHandelingLink.__dbname__ == "patient_handeling_link"
    link = PatientHandelingLink.__link__
    refs = link.cls_get_link_refs()
    assert list(refs) == ["patient", "handeling"]
    assert refs["patient"].key_cols == ["patient_id"]
    dyns = link.cls_get_dynamic_refs()
    assert list(dyns) == ["dynamic"]
    assert sorted(link.cls_get_types()) == ["hulpverlener", "locatie"]


# --------------------------------------------------------------------------
# end-to-end Pipe over a declared multi-entity domain
# --------------------------------------------------------------------------


def _ev(seq, pid, naam, op="U", handeling=None, dyn_type=None, dyn_key=None,
        straat=None, adres_type=None):
    return (
        seq, pid, naam, op, handeling, dyn_type, dyn_key, straat, adres_type,
        TS + dt.timedelta(seconds=seq),
    )


_SCHEMA = (
    "seq long, patient_id string, naam string, op string, handeling_id string, "
    "dyn_type string, dyn_key string, straat string, type string, ts timestamp"
)


def _mappings():
    return [
        SorToEntityMapping(entity=Patient),
        SorToEntityMapping(
            entity=Handeling,
            field_map={"naam": "concat('handeling ', handeling_id)"},
            filter="handeling_id IS NOT NULL",
        ),
        SorToLinkMapping(
            link=PatientHandelingLink,
            filter="handeling_id IS NOT NULL",
            type_expr="coalesce(dyn_type, 'hulpverlener')",
        ),
        SorToValueSetMapping(valueset_name="adres_type", code="type", descr="upper(type)"),
    ]


def test_pipe_multi_entity_replay(spark, tmp_path):
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)

    b1 = spark.createDataFrame(
        [
            _ev(1, "p1", "Jan", straat="Dam 1", adres_type="postadres"),
            _ev(2, "p2", "Piet", handeling="h1", dyn_type="locatie", dyn_key="loc9"),
            _ev(3, "p1", "Jan", handeling="h2"),
        ],
        _SCHEMA,
    )
    out1 = pipe.run(b1, batch_id=1)
    assert out1["patient_hub"]["new_keys"] == 2
    assert out1["handeling_hub"]["new_keys"] == 2
    assert out1["patient_sat"]["inserted"] == 2
    assert out1["patient_handeling_link"]["new_keys"] == 2

    # batch 2: update p1's naam, delete p2, new hybrid-sat row
    b2 = spark.createDataFrame(
        [
            _ev(10, "p1", "Jan Jansen"),
            _ev(11, "p2", None, op="D"),
            _ev(12, "p3", "Kees", straat="Kade 3", adres_type="bezoekadres"),
        ],
        _SCHEMA,
    )
    out2 = pipe.run(b2, batch_id=2)
    assert out2["patient_sat"]["updated"] == 1
    assert out2["patient_sat"]["deleted"] == 1
    assert out2["patient_sat"]["inserted"] == 1

    sat = pipe.sat_table(Patient.Default)
    cur = {r["patient_id"]: r["naam"] for r in sat.current().collect()}
    assert cur == {"p1": "Jan Jansen", "p3": "Kees"}
    hist = sat.read()
    assert hist.count() == 4  # p1 v0+v1, p2 tombstone, p3 v0

    # hybrid sat: type is part of the grain
    adres = pipe.sat_table(Patient.Adres)
    rows = {(r["patient_id"], r["type"]): r["straat"] for r in adres.current().collect()}
    assert rows == {("p1", "postadres"): "Dam 1", ("p3", "bezoekadres"): "Kade 3"}

    # hybrid link: type + both leg FKs + dynamic leg key in the row
    link_rows = pipe.link_table(PatientHandelingLink).read().collect()
    types = sorted(r["type"] for r in link_rows)
    assert types == ["hulpverlener", "locatie"]
    for r in link_rows:
        assert r["fk_patient"] is not None and r["fk_handeling"] is not None
        assert r["fk_dynamic"] is not None

    # valueset registry: distinct codes, insert-only
    vs = pipe.valuesets["adres_type"].read().collect()
    assert {(r["code"], r["omschrijving"]) for r in vs} == {
        ("postadres", "POSTADRES"),
        ("bezoekadres", "BEZOEKADRES"),
    }

    # field_map applied to the handeling entity
    h = {r["handeling_id"]: r["naam"] for r in pipe.sat_table(Handeling.Default).current().collect()}
    assert h == {"h1": "handeling h1", "h2": "handeling h2"}


def test_pipe_idempotent_rerun(spark, tmp_path):
    """Torn-run resume: re-running an applied batch is a no-op everywhere."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    b1 = spark.createDataFrame(
        [_ev(1, "p1", "Jan", handeling="h1")], _SCHEMA
    )
    pipe.run(b1, batch_id=1)
    before = pipe.sat_table(Patient.Default).read().count()
    out = pipe.run(b1, batch_id=1)  # crash-replay of the same batch
    assert out["patient_sat"] == {"skipped_duplicate_batch": 1}
    assert out["patient_hub"] == {"skipped_duplicate_batch": 1}
    assert pipe.sat_table(Patient.Default).read().count() == before

    # a fresh Pipe over the same root resumes from the commit logs
    pipe2 = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    out2 = pipe2.run(b1, batch_id=1)
    assert out2["patient_sat"] == {"skipped_duplicate_batch": 1}


# --------------------------------------------------------------------------
# view_to_entity promotion (pipeline.py:710-717)
# --------------------------------------------------------------------------


class PatientSummary(HubEntity):
    __bk__ = ["patient_id"]

    class Default(Sat):
        n_handelingen = Col("long")


def _summary_view(pipe: Pipe):
    """A DV view over the loaded vault: handeling count per patient from the
    link table — promoted into its own entity."""
    link = pipe.link_table(PatientHandelingLink).read()
    return link.groupBy("patient_id").agg(F.count("*").alias("n_handelingen"))


def test_view_to_entity_promotion(spark, tmp_path):
    mappings = _mappings() + [
        EntityViewToEntityMapping(view=_summary_view, entity=PatientSummary)
    ]
    pipe = Pipe(spark, str(tmp_path / "dv"), mappings, num_buckets=4)
    b1 = spark.createDataFrame(
        [
            _ev(1, "p1", "Jan", handeling="h1"),
            _ev(2, "p1", "Jan", handeling="h2"),
            _ev(3, "p2", "Piet", handeling="h1"),
        ],
        _SCHEMA,
    )
    # views run BEFORE links inside one run (reference body order,
    # pipeline.py:711 vs :721) so a view over the link table promotes in the
    # run AFTER the links load — same as the reference
    pipe.run(b1, batch_id=1, parts=["sor", "valuesets", "hubs", "links"])
    pipe.run(None, batch_id=2, parts=["views"])

    cur = {
        r["patient_id"]: r["n_handelingen"]
        for r in pipe.sat_table(PatientSummary.Default).current().collect()
    }
    assert cur == {"p1": 2, "p2": 1}
    hub = pipe.hub_table(PatientSummary).read()
    assert hub.count() == 2

    # a later run revises the promoted entity like any SCD2 source
    b2 = spark.createDataFrame([_ev(10, "p2", "Piet", handeling="h3")], _SCHEMA)
    pipe.run(b2, batch_id=3, parts=["sor", "hubs", "links"])
    pipe.run(None, batch_id=4, parts=["views"])
    sat = pipe.sat_table(PatientSummary.Default)
    cur = {r["patient_id"]: r["n_handelingen"] for r in sat.current().collect()}
    assert cur == {"p1": 2, "p2": 2}
    p2_hist = sat.read().filter(F.col("patient_id") == "p2")
    assert p2_hist.count() == 2  # revised: v0 (1 handeling) closed + v1 active


def test_pipe_streaming_tail(spark, tmp_path):
    """Structured Streaming through the GENERIC pipe: foreachBatch feeds
    pipe.run with offset epoch ids; idempotent per-table commits upgrade
    the stream's at-least-once redelivery to exactly-once, and the final
    state equals a plain batch replay of the same files."""
    rows = [
        _ev(1, "p1", "Jan", handeling="h1"),
        _ev(2, "p2", "Piet", handeling="h2"),
        _ev(3, "p1", "Jan J."),
    ]
    src = str(tmp_path / "src")
    events = spark.createDataFrame(rows, _SCHEMA)
    events.write.mode("overwrite").parquet(src)

    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, eid: None if df.isEmpty() else pipe.run(df, 1_000_000_000 + int(eid))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    sat = pipe.sat_table(Patient.Default)
    cur = {r["patient_id"]: r["naam"] for r in sat.current().collect()}
    assert cur == {"p1": "Jan J.", "p2": "Piet"}
    n_commits = len(sat.commits())

    # restart over the SAME checkpoint: no new files -> no new commits
    q = (
        stream.writeStream.foreachBatch(
            lambda df, eid: None if df.isEmpty() else pipe.run(df, 1_000_000_000 + int(eid))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(sat.commits()) == n_commits

    # same end state as a one-shot batch replay through a fresh pipe
    pipe2 = Pipe(spark, str(tmp_path / "dv2"), _mappings(), num_buckets=4)
    pipe2.replay(events.withColumn("batch_id", F.lit(1)))
    cur2 = {
        r["patient_id"]: r["naam"]
        for r in pipe2.sat_table(Patient.Default).current().collect()
    }
    assert cur2 == cur


def test_every_driver_query_has_an_oracle():
    """The correctness gate only bites where an oracle exists — keep the
    oracle set total so no query silently degrades to a rows-only check."""
    import __spark_entry__ as entry

    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) == set(o), sorted(set(q) ^ set(o))
    assert len(q) >= 47


def test_pipe_snapshot_mapping(spark, tmp_path):
    """Full-snapshot loads through the generic pipe (snapshot=True): rows
    upsert, keys absent from the snapshot tombstone (the reference's
    file-load path through the declared domain)."""
    pipe = Pipe(
        spark, str(tmp_path / "dv"),
        [SorToEntityMapping(entity=Patient, snapshot=True)],
        num_buckets=4,
    )
    schema = "patient_id string, naam string, ts timestamp"
    snap1 = spark.createDataFrame(
        [("p1", "Jan", TS), ("p2", "Piet", TS)], schema
    )
    out1 = pipe.run(snap1, batch_id=1)
    assert out1["patient_sat"]["inserted"] == 2

    snap2 = spark.createDataFrame(
        [("p1", "Jan Jansen", TS), ("p3", "Kees", TS)], schema
    )
    out2 = pipe.run(snap2, batch_id=2)
    assert out2["patient_sat"]["updated"] == 1
    assert out2["patient_sat"]["deleted"] == 1      # p2 missing → tombstone
    assert out2["patient_sat"]["inserted"] == 1

    sat = pipe.sat_table(Patient.Default)
    cur = {r["patient_id"]: r["naam"] for r in sat.current().collect()}
    assert cur == {"p1": "Jan Jansen", "p3": "Kees"}
    dead = sat.head.read().filter("NOT _active").collect()
    assert [r["patient_id"] for r in dead] == ["p2"]


class Organisatie(HubEntity):
    __bk__ = ["org_id"]

    class Default(Sat):
        naam = Col()


class Zorginstelling(Organisatie):
    class Zorginstelling(Sat):
        agb = Col()


class Zorgverzekeraar(Organisatie):
    class Zorgverzekeraar(Sat):
        nummer = Col()


def test_two_mappings_one_hub_union(spark, tmp_path):
    """Two subtype-entity mappings share ONE hub (the reference's
    Organisatie pattern): their projections must UNION into a single hub
    merge per batch — two concurrent jobs on one table would race its
    single-writer commit log, and idempotence would silently drop the
    loser's keys."""
    mappings = [
        SorToEntityMapping(entity=Zorginstelling, filter="kind = 'zi'"),
        SorToEntityMapping(entity=Zorgverzekeraar, filter="kind = 'zv'"),
    ]
    pipe = Pipe(spark, str(tmp_path / "dv"), mappings, num_buckets=4)
    schema = "org_id string, kind string, naam string, agb string, nummer string, seq long, op string, ts timestamp"
    b1 = spark.createDataFrame(
        [
            ("o1", "zi", "Ziekenhuis A", "agb1", None, 1, "U", TS),
            ("o2", "zv", "Verzekeraar B", None, "n2", 2, "U", TS),
        ],
        schema,
    )
    out = pipe.run(b1, batch_id=1)
    # ONE hub job saw BOTH mappings' keys
    assert out["organisatie_hub"]["new_keys"] == 2
    hub_rows = pipe.hub_table(Organisatie).read().collect()
    assert {r["org_id"] for r in hub_rows} == {"o1", "o2"}
    # each subtype's sat got only its own rows
    zi = pipe.sat_table(Zorginstelling.Zorginstelling).current().collect()
    assert [(r["org_id"], r["agb"]) for r in zi] == [("o1", "agb1")]
    zv = pipe.sat_table(Zorgverzekeraar.Zorgverzekeraar).current().collect()
    assert [(r["org_id"], r["nummer"]) for r in zv] == [("o2", "n2")]
    # the shared Default sat (inherited by both subtypes) unioned both rows
    d = pipe.sat_table(Organisatie.Default).current().collect()
    assert {r["org_id"]: r["naam"] for r in d} == {
        "o1": "Ziekenhuis A", "o2": "Verzekeraar B"
    }


def test_link_reference_explicit_name_survives_class_binding():
    class A(HubEntity):
        __bk__ = ["a_id"]

    class L(LinkEntity):
        class Link(Link):
            subject = LinkReference(A, name="patient_subject")
            other = LinkReference(A)

    refs = L.__link__.cls_get_link_refs()
    assert refs["subject"].name == "patient_subject"  # explicit name kept
    assert refs["other"].name == "other"              # attribute name used


# --------------------------------------------------------------------------
# round-3 features: subtype hub typing, validation stage, hooks, runs log
# --------------------------------------------------------------------------


def test_subtype_string_matches_reference():
    """dv_metaclasses.py:116 — name.lower().replace('entity','')
    .replace('hub',''), NOT snake case."""
    assert Zorginstelling.__subtype__ == "zorginstelling"
    assert Zorgverzekeraar.__subtype__ == "zorgverzekeraar"
    assert Organisatie.__subtype__ == ""


def test_subtype_hub_rows_carry_discriminator(spark, tmp_path):
    """Subtype entities share one hub but their rows must be typed
    (HubEntityMetaClass subtype branch; hub insert etl.py:414-417) —
    downstream queries tell Zorginstelling from Zorgverzekeraar by the
    hub row's type, not by which sat happens to have rows."""
    mappings = [
        SorToEntityMapping(entity=Zorginstelling, filter="kind = 'zi'"),
        SorToEntityMapping(entity=Zorgverzekeraar, filter="kind = 'zv'"),
        SorToEntityMapping(entity=Organisatie, filter="kind = 'o'"),
    ]
    pipe = Pipe(spark, str(tmp_path / "dv"), mappings, num_buckets=4)
    schema = "org_id string, kind string, naam string, agb string, nummer string, seq long, op string, ts timestamp"
    b1 = spark.createDataFrame(
        [
            ("o1", "zi", "Ziekenhuis A", "agb1", None, 1, "U", TS),
            ("o2", "zv", "Verzekeraar B", None, "n2", 2, "U", TS),
            ("o3", "o", "Los orgaan", None, None, 3, "U", TS),
        ],
        schema,
    )
    pipe.run(b1, batch_id=1)
    rows = {r["org_id"]: r["type"] for r in pipe.hub_table(Organisatie).read().collect()}
    assert rows == {
        "o1": "zorginstelling",
        "o2": "zorgverzekeraar",
        "o3": "organisatie",  # direct entity keeps the static hub type
    }


def test_pipe_validation_stage(spark, tmp_path):
    """Declared row validations run as a Pipe stage (reference
    pipeline.py:675-679): invalid rows are quarantined and NEVER reach
    hub/sat — mirror of the reference's test04_validations.py:47-53
    (4 source rows, 2 invalid → only valid ones in the DV)."""
    from pyelt_spark.plans.validations import DuplicateKeys, RowCondition

    pipe = Pipe(
        spark,
        str(tmp_path / "dv"),
        [SorToEntityMapping(entity=Patient)],
        num_buckets=4,
        validations=[
            RowCondition("postcode LIKE '0000%'", "Ongeldige postcode"),
            RowCondition("geslacht NOT IN ('m', 'v')", "Ongeldig geslacht"),
        ],
    )
    schema = (
        "seq long, patient_id string, naam string, postcode string, "
        "geslacht string, op string, ts timestamp"
    )
    b1 = spark.createDataFrame(
        [
            (1, "101", "Jan", "1111AB", "m", "U", TS),
            (2, "102", "Piet", "0000XX", "m", "U", TS),   # invalid postcode
            (3, "103", "Mies", "2222CD", "v", "U", TS),
            (4, "104", "Truus", "3333EF", "x", "U", TS),  # invalid geslacht
        ],
        schema,
    )
    out = pipe.run(b1, batch_id=1)
    assert out["exceptions"]["new_exceptions"] == 2
    assert out["patient_hub"]["new_keys"] == 2
    assert out["patient_sat"]["inserted"] == 2
    ids = {r["patient_id"] for r in pipe.sat_table(Patient.Default).current().collect()}
    assert ids == {"101", "103"}
    exc = pipe.exceptions_table().read().collect()
    msgs = sorted(r["_validation_msg"] for r in exc)
    assert msgs == ["Ongeldig geslacht", "Ongeldige postcode"]
    # idempotent rerun: nothing new lands anywhere
    out2 = pipe.run(b1, batch_id=1)
    assert out2["patient_sat"] == {"skipped_duplicate_batch": 1}
    assert pipe.exceptions_table().read().count() == 2

    # duplicate-key validation: same (key, seq) twice in one batch is an
    # ambiguous fork -> whole group invalid (etl.py:349-371 semantics)
    pipe2 = Pipe(
        spark,
        str(tmp_path / "dv2"),
        [SorToEntityMapping(entity=Patient)],
        num_buckets=4,
        validations=[DuplicateKeys(keys=["patient_id", "seq"])],
    )
    b2 = spark.createDataFrame(
        [
            (1, "201", "Jan", "1111AB", "m", "U", TS),
            (1, "201", "Johan", "1111AB", "m", "U", TS),  # same key+seq
            (2, "202", "Piet", "2222CD", "m", "U", TS),
        ],
        schema,
    )
    out = pipe2.run(b2, batch_id=1)
    assert out["exceptions"]["new_exceptions"] == 2
    assert {r["patient_id"] for r in pipe2.sat_table(Patient.Default).current().collect()} == {"202"}


def test_pipe_hooks_fire_in_part_order(spark, tmp_path):
    """run_before_* / run_after_* hooks (pipeline.py:554-555, :663-664,
    :680-683): callables per part boundary, fired in part order with
    (pipe, batch, batch_id)."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    fired = []
    for point in (
        "before_sor", "after_sor", "before_hubs", "after_hubs",
        "before_links", "after_links",
    ):
        pipe.add_hook(point, lambda p, b, bid, _pt=point: fired.append((_pt, bid)))
    with pytest.raises(ValueError):
        pipe.add_hook("before_nonsense", lambda p, b, bid: None)

    b1 = spark.createDataFrame([_ev(1, "p1", "Jan", handeling="h1")], _SCHEMA)
    pipe.run(b1, batch_id=7)
    assert fired == [
        ("before_sor", 7), ("after_sor", 7),
        ("before_hubs", 7), ("after_hubs", 7),
        ("before_links", 7), ("after_links", 7),
    ]


def test_pipe_runs_log(spark, tmp_path):
    """Single-pane run registry (sys.runs analog, pipeline.py:259-285 +
    dwh.py:115-147): one record per run attempt with start/finish and a
    per-table metrics rollup; a torn run stays status='running'."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    b1 = spark.createDataFrame([_ev(1, "p1", "Jan", handeling="h1")], _SCHEMA)
    pipe.run(b1, batch_id=1)
    log = pipe.runs_log()
    assert len(log) == 1
    rec = log[0]
    assert rec["run_id"] == 1 and rec["status"] == "finished"
    assert rec["started"] <= rec["finished"]
    assert rec["tables"]["patient_sat"]["inserted"] == 1
    assert rec["tables"]["patient_hub"]["new_keys"] == 1
    assert rec["engine_version"]

    # torn run: crash before finish leaves a 'running' record
    path = pipe._runs_start(batch_id=2, parts=["sor", "hubs"])
    log = pipe.runs_log()
    assert [r["status"] for r in log] == ["finished", "running"]
    assert log[-1]["run_id"] == 2

    # resume: the SAME batch id gets a new attempt, old record preserved
    pipe.run(b1, batch_id=2)
    log = pipe.runs_log()
    assert [(r["run_id"], r["attempt"], r["status"]) for r in log] == [
        (1, 0, "finished"), (2, 0, "running"), (2, 1, "finished"),
    ]


def test_pipe_skips_provably_empty_merges(spark, tmp_path):
    """replay()'s bucket probe doubles as an empty-batch proof: a batch
    feeding an entity no rows skips that entity's hub and sat merges with
    zero Spark jobs, and final state matches the unskipped semantics."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    ev = spark.createDataFrame(
        [
            _ev(1, "p1", "Jan"),
            # batch 2 carries ONLY handeling rows for p1 — no new patient
            # payload and no valueset/adres columns
            _ev(2, "p1", "Jan", handeling="h1"),
        ],
        _SCHEMA,
    ).withColumn("batch_id", F.col("seq"))
    out = pipe.replay(ev)
    by_batch = {m["batch_id"]: m for m in out}
    # batch 1 has no handeling rows: both handeling merges skip; the link
    # mapping's filter also excludes every row
    assert by_batch[1]["handeling_hub"] == {"skipped_empty_batch": 1}
    assert by_batch[1]["handeling_sat"] == {"skipped_empty_batch": 1}
    assert by_batch[1]["patient_handeling_link"] == {"skipped_empty_batch": 1}
    assert by_batch[1]["patient_hub"]["new_keys"] == 1
    # batch 2 touches everything
    assert by_batch[2]["handeling_hub"]["new_keys"] == 1
    assert by_batch[2]["patient_handeling_link"]["new_keys"] == 1
    # final state unaffected by the skips
    assert pipe.hub_table(Patient).read().count() == 1
    assert pipe.hub_table(Handeling).read().count() == 1
    assert pipe.sat_table("patient_sat").current().count() == 1


# every table ``_mappings()`` compiles
_TABLES = [
    "patient_hub", "handeling_hub", "patient_sat", "patient_sat_adres",
    "handeling_sat", "patient_handeling_link", "valueset_adres_type",
]


def test_pipe_rereplay_skips_every_batch(spark, tmp_path):
    """Resume skip: re-running replay over a fully replayed pipe skips each
    batch whole — ``skipped_duplicate_batch`` per batch, no lane work and
    no new run record. Batch 1 feeds the handeling tables and the link
    nothing, so it counts as done through the probe's empty proof rather
    than through their commit logs."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    ev = spark.createDataFrame(
        [
            _ev(1, "p1", "Jan", straat="Dam 1", adres_type="postadres") + (0,),
            _ev(2, "p2", "Piet", handeling="h1") + (0,),
            _ev(3, "p1", "Jan B") + (1,),
            _ev(4, "p3", "Kees", handeling="h2", dyn_type="locatie", dyn_key="l9") + (2,),
        ],
        _SCHEMA + ", batch_id int",
    )
    first = pipe.replay(ev)
    assert [o["batch_id"] for o in first] == [0, 1, 2]
    assert first[1]["handeling_hub"] == {"skipped_empty_batch": 1}
    n_runs = len(pipe.runs_log())
    assert n_runs == 3

    again = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4).replay(ev)
    # each table still reports: committed, or proven empty by the probe
    empty = {
        0: set(),
        1: {"handeling_hub", "handeling_sat", "patient_handeling_link", "patient_sat_adres"},
        2: {"patient_sat_adres"},
    }

    def skipped(b, t):
        return {"skipped_empty_batch": b} if t in empty[b] else {"skipped_duplicate_batch": b}

    assert again == [
        {"batch_id": b, "skipped_duplicate_batch": b, **{t: skipped(b, t) for t in _TABLES}}
        for b in (0, 1, 2)
    ]
    assert len(pipe.runs_log()) == n_runs


def test_pipe_replay_records_batch_that_feeds_nothing(spark, tmp_path):
    """A batch whose rows every mapping filters out commits on no table,
    but its first replay still runs it: it leaves a run record, and a
    following ``EntityData.save()`` takes the next id instead of reusing
    it."""
    from pyelt_spark.plans.orm import EntityData

    pipe = Pipe(spark, str(tmp_path / "dv"), [_mappings()[1]], num_buckets=4)
    ev = spark.createDataFrame(
        [
            _ev(1, "p1", "Jan", handeling="h1") + (0,),
            _ev(2, "p2", "Piet") + (1,),
        ],
        _SCHEMA + ", batch_id int",
    )
    out = pipe.replay(ev)
    assert [o["batch_id"] for o in out] == [0, 1]
    assert out[1]["handeling_hub"] == {"skipped_empty_batch": 1}
    assert "skipped_duplicate_batch" not in out[1]
    assert sorted(r["run_id"] for r in pipe.runs_log()) == [0, 1]

    data = EntityData(pipe, Handeling)
    data.new(handeling_id="h2").set_sat("default", naam="handeling h2")
    assert data.save()["batch_id"] == 2


# --------------------------------------------------------------------------
# Pipe.run on a laneable pipe is a replay of one batch
# --------------------------------------------------------------------------


def test_pipe_run_skips_entity_the_batch_feeds_nothing(spark, tmp_path):
    """``run`` probes its batch like a replay: an entity the batch feeds no
    rows skips its hub and sat merges and publishes no manifest."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    b1 = spark.createDataFrame([_ev(1, "p1", "Jan"), _ev(2, "p2", "Piet")], _SCHEMA)
    out = pipe.run(b1, batch_id=1)
    assert out["patient_hub"]["new_keys"] == 2
    assert out["patient_sat"]["inserted"] == 2
    assert out["handeling_hub"] == {"skipped_empty_batch": 1}
    assert out["handeling_sat"] == {"skipped_empty_batch": 1}
    assert out["patient_handeling_link"] == {"skipped_empty_batch": 1}
    assert pipe.hub_table(Handeling).last_commit() is None
    assert pipe.sat_table(Handeling.Default).last_commit() is None
    assert pipe.runs_log()[0]["tables"]["handeling_hub"] == {"skipped_empty_batch": 1}


def test_pipe_run_delete_only_batch_skips_hub(spark, tmp_path):
    """A hub takes only upserts, so a delete-only batch provably feeds it
    nothing: ``run`` skips the hub while the sat closes the key."""
    pipe = Pipe(spark, str(tmp_path / "dv"), [SorToEntityMapping(entity=Patient)], num_buckets=4)
    pipe.run(spark.createDataFrame([_ev(1, "p1", "Jan")], _SCHEMA), batch_id=1)
    out = pipe.run(spark.createDataFrame([_ev(2, "p1", None, op="D")], _SCHEMA), batch_id=2)
    assert out["patient_hub"] == {"skipped_empty_batch": 2}
    assert out["patient_sat"]["deleted"] == 1
    assert pipe.hub_table(Patient).committed_batch_ids() == {1}
    assert pipe.sat_table(Patient.Default).current().count() == 0


def test_pipe_run_redelivered_batch_adds_no_run_record(spark, tmp_path):
    """Re-delivering a fully committed batch through ``run`` is skipped
    whole, as in a replay: every table reports its skip and the run
    registry gains no attempt."""
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    b1 = spark.createDataFrame([_ev(1, "p1", "Jan", handeling="h1")], _SCHEMA)
    pipe.run(b1, batch_id=1)
    assert len(pipe.runs_log()) == 1
    out = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4).run(b1, batch_id=1)
    assert out["skipped_duplicate_batch"] == 1
    assert out["patient_sat_adres"] == {"skipped_empty_batch": 1}
    assert all(
        out[t] == {"skipped_duplicate_batch": 1} for t in _TABLES if t != "patient_sat_adres"
    )
    assert len(pipe.runs_log()) == 1


def test_pipe_run_matches_one_batch_replay(spark, tmp_path):
    """``run`` of a batch and ``replay`` of the same rows as one batch land
    identical results and identical state in every table."""
    batches = {
        1: [
            _ev(1, "p1", "Jan", straat="Dam 1", adres_type="postadres"),
            _ev(2, "p2", "Piet", handeling="h1", dyn_type="locatie", dyn_key="loc9"),
        ],
        2: [
            _ev(10, "p1", "Jan Jansen"),
            _ev(11, "p2", None, op="D"),
            _ev(12, "p3", "Kees", handeling="h2", straat="Kade 3", adres_type="bezoekadres"),
        ],
    }
    ran = Pipe(spark, str(tmp_path / "run"), _mappings(), num_buckets=4)
    replayed = Pipe(spark, str(tmp_path / "replay"), _mappings(), num_buckets=4)
    for b, rows in batches.items():
        df = spark.createDataFrame(rows, _SCHEMA)
        assert ran.run(df, batch_id=b) == replayed.replay(df.withColumn("batch_id", F.lit(b)))[0]
    for a, b in (
        *((ran.hubs[k], replayed.hubs[k]) for k in ran.hubs),
        *((ran.links[k], replayed.links[k]) for k in ran.links),
        *((ran.valuesets[k], replayed.valuesets[k]) for k in ran.valuesets),
        *((ran.sats[k], replayed.sats[k]) for k in ran.sats),
    ):
        x, y = a.read(), b.read()
        assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0
