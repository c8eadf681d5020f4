"""Property-style ETL invariants (SURVEY.md §5.4): idempotency, key density,
fan-out conservation, UUID determinism — the guarantees the reference script
never had but a re-runnable distributed migration needs."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.etl import (
    assign_surrogate_keys,
    idempotent_new_rows,
    registration_build,
    unpivot_attributes,
)
from openmrs_patient_migration_script_spark.sources import load_table


def test_surrogate_keys_dense_and_ordered(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    keyed = assign_surrogate_keys(c, "c_custkey", id_col="pid", offset=100)
    rows = keyed.select("c_custkey", "pid").orderBy("c_custkey").collect()
    ids = [r["pid"] for r in rows]
    assert ids == list(range(101, 101 + len(rows)))  # gapless, offset applied
    keys = [r["c_custkey"] for r in rows]
    assert keys == sorted(keys)


def test_surrogate_keys_null_keys_sort_first(spark):
    """The ``ORDER BY key`` contract on both paths: NULL keys take the
    first ids (Spark's ascending order is NULLS FIRST)."""
    nums = spark.createDataFrame([(5,), (None,), (3,), (9,)], "k long")
    got = {r["k"]: r["sid"] for r in assign_surrogate_keys(nums, "k", id_col="sid").collect()}
    assert got == {None: 1, 3: 2, 5: 3, 9: 4}

    # multi-byte UTF-8 and a shared prefix: byte order is code-point order
    words = ["pré", None, "pra", "prz", "pr", "prée", "pr中"]
    strs = spark.createDataFrame([(w,) for w in words], "k string")
    got = {r["k"]: r["sid"] for r in assign_surrogate_keys(strs, "k", id_col="sid").collect()}
    want = [None] + sorted(w for w in words if w is not None)
    assert got == {w: i for i, w in enumerate(want, start=1)}


def test_surrogate_keys_window_spreads_over_every_shuffle_partition(spark):
    """The window is keyed by the fine bin, not by ``num_partitions``
    coarse buckets whose few hash values collide: at 4 shuffle
    partitions every partition holds rows and the largest is at most
    1.5x the mean. AQE coalescing is off so the window's own partitions
    are measured, not their small-data merge."""
    conf = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        df = spark.range(40_000).select((F.col("id") * 7 + 3).alias("k"))
        out = assign_surrogate_keys(df, "k", id_col="sid", offset=10, num_partitions=4)
        sizes = [
            r["n"]
            for r in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("sid").alias("n"))
            .collect()
        ]
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert len(sizes) == 4, sizes
    assert max(sizes) <= 1.5 * (sum(sizes) / 4), sizes


def test_registration_fanout_conservation(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    reg = registration_build(c, n)
    assert reg.count() == c.count()  # one person per eligible client
    # identifiers never null thanks to the GENERATED fallback
    assert reg.filter(F.col("identifier").isNull()).count() == 0


def test_uuid_deterministic_across_runs(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    a = {r["client_id"]: r["person_uuid"] for r in registration_build(c, n).collect()}
    b = {r["client_id"]: r["person_uuid"] for r in registration_build(c, n).collect()}
    assert a == b  # unlike the reference's per-run random uuid (README.md:19)


def test_idempotent_rerun_adds_zero_rows(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    first_run = registration_build(c, n)
    second_run = idempotent_new_rows(
        registration_build(c, n), first_run, key="client_id"
    )
    assert second_run.count() == 0


def test_unpivot_shape(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    out = unpivot_attributes(
        c, "c_custkey", {"segment": "c_mktsegment", "name": "c_name"}
    )
    assert out.columns == ["person_id", "attribute_type", "value"]
    assert out.count() == 2 * c.count()


def test_identifier_precedence_matrix(spark):
    """Encode README.md:13-15 as a truth table."""
    from openmrs_patient_migration_script_spark.operators.etl import identifier_with_fallback

    df = spark.createDataFrame(
        [
            ("NAT-1", "BC-1", "GEN-1", "NAT-1", "NATIONAL_ID"),
            (None, "BC-2", "GEN-2", "BC-2", "BIRTH_CERTIFICATE"),
            (None, None, "GEN-3", "GEN-3", "GENERATED"),
        ],
        ["nat", "bc", "gen", "want_id", "want_type"],
    )
    ident, id_type = identifier_with_fallback(F.col("nat"), F.col("bc"), F.col("gen"))
    got = df.select("want_id", "want_type", ident.alias("id"), id_type.alias("ty")).collect()
    for r in got:
        assert r["id"] == r["want_id"] and r["ty"] == r["want_type"]


def test_schema_pinned_reads_fail_loudly_on_drift(spark, tmp_path):
    """schemas.py policy: production reads pass explicit schemas so a
    drifted file errors at read time instead of silently changing types.
    Parquet scans verify the physical type against the requested one."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = f"{tmp_path}/drifted"
    spark.range(3).select(
        F.col("id").alias("c_custkey"), F.lit("x").alias("c_name")
    ).write.parquet(p)
    drifted = StructType(
        [
            StructField("c_custkey", StringType()),  # file has BIGINT
            StructField("c_name", StringType()),
        ]
    )
    with pytest.raises(Exception) as exc:
        spark.read.schema(drifted).parquet(p).collect()
    assert "c_custkey" in str(exc.value) or "SCHEMA" in str(exc.value).upper()

    # the matching schema reads fine
    ok = StructType(
        [StructField("c_custkey", LongType()), StructField("c_name", StringType())]
    )
    assert spark.read.schema(ok).parquet(p).count() == 3


def test_approx_count_distinct_within_tolerance(spark):
    """The documented 100 TB swap for exact distinct counts: the HLL sketch
    (mergeable, bounded memory) must land within its rsd bound on the
    harness data."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.sources import load_table

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    rel_err = abs(row["approx"] - row["exact"]) / row["exact"]
    assert rel_err < 0.06, (row["exact"], row["approx"])


def test_merge_upsert_covers_all_keys_and_actions(spark, sf_dir):
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = QUERIES["etl_merge_upsert"](spark, sf_dir).collect()
    by_action = {}
    for r in rows:
        by_action.setdefault(r.merge_action, 0)
        by_action[r.merge_action] += 1
    # source covers every key, so nothing is 'kept' in this fixture; the
    # synthesized snapshot guarantees inserts (every 97th key absent from
    # target) and updates (every 10th drifted)
    assert by_action.get("inserted", 0) > 0
    assert by_action.get("updated", 0) > 0
    assert by_action.get("kept", 0) == 0
    assert len({r.client_id for r in rows}) == len(rows), "one row per key"


def test_scd2_delta_agrees_with_merge_upsert(spark, sf_dir):
    """Cross-operator invariant: the change set etl_scd2_delta DETECTS must
    be exactly what etl_merge_upsert records APPLYING (same synthesized
    target/source snapshot in both declared queries)."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    delta = QUERIES["etl_scd2_delta"](spark, sf_dir).collect()
    merged = QUERIES["etl_merge_upsert"](spark, sf_dir).collect()
    delta_by_action = {}
    for r in delta:
        delta_by_action.setdefault(r.action, set()).add(r.client_id)
    merge_by_action = {}
    for r in merged:
        merge_by_action.setdefault(r.merge_action, set()).add(r.client_id)
    assert delta_by_action.get("insert", set()) == merge_by_action.get("inserted", set())
    assert delta_by_action.get("update", set()) == merge_by_action.get("updated", set())
    # the source covers every key, so nothing closes in merge terms; the
    # delta's 'close' set must be empty too for this fixture
    assert not delta_by_action.get("close")


def test_merge_upsert_null_transitions(spark):
    """NULL↔value transitions must be 'updated' with the SOURCE value
    winning (including explicit NULL upserts) — the null-unsafe != trap."""
    from openmrs_patient_migration_script_spark.operators.etl import merge_upsert

    target = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 7.0)], ["k", "v"]
    )
    source = spark.createDataFrame(
        [(1, 50.0), (2, None), (3, 7.0)], ["k", "v"]
    )
    got = {
        r.k: (r.v, r.merge_action)
        for r in merge_upsert(target, source, "k", ["v"]).collect()
    }
    assert got[1] == (50.0, "updated")  # NULL -> value
    assert got[2] == (None, "updated")  # explicit NULL upsert wins
    assert got[3] == (7.0, "unchanged")


def test_pivot_unpivot_roundtrip(spark):
    """A6/E3 are inverses: unpivoting the pivoted attribute matrix must
    reproduce the original long-form rows exactly (NULL cells drop, which
    is the unpivot contract)."""
    from pyspark.sql import functions as F

    long_rows = spark.createDataFrame(
        [
            (1, "mktsegment", "BUILDING"),
            (1, "county", "KENYA"),
            (2, "mktsegment", "MACHINERY"),
            # person 2 has no county row: pivot makes a NULL cell, unpivot
            # must drop it again
        ],
        ["person_id", "attribute_type", "value"],
    )
    wide = (
        long_rows.groupBy("person_id")
        .pivot("attribute_type", ["mktsegment", "county"])
        .agg(F.first("value"))
    )
    back = wide.unpivot(
        ids=["person_id"],
        values=["mktsegment", "county"],
        variableColumnName="attribute_type",
        valueColumnName="value",
    ).filter(F.col("value").isNotNull())
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, long_rows.collect()))


def test_incremental_rollup_equals_full_rescan_any_split(spark, sf_dir):
    """combine(partials of ANY disjoint split) == rollup of the whole —
    the decomposable-state invariant, checked for a 2-way time split and
    a 7-way hash split."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.etl import (
        combine_rollups,
        rollup_partial,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    grp = [F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")]
    cents = F.round(F.col("value") * 100)
    full = sorted(map(tuple, rollup_partial(e, grp, cents).collect()))
    cut = F.lit("2024-01-16").cast("timestamp")
    two = combine_rollups(
        [
            rollup_partial(e.filter(F.col("ts") < cut), grp, cents),
            rollup_partial(e.filter(F.col("ts") >= cut), grp, cents),
        ],
        ["day", "event_type"],
    )
    seven = combine_rollups(
        [
            rollup_partial(e.filter(F.col("event_id") % 7 == i), grp, cents)
            for i in range(7)
        ],
        ["day", "event_type"],
    )
    assert sorted(map(tuple, two.collect())) == full
    assert sorted(map(tuple, seven.collect())) == full


def test_scd2_lookup_picks_the_version_current_at_fact_time(spark):
    from datetime import datetime

    from openmrs_patient_migration_script_spark.operators.etl import scd2_lookup

    dim = spark.createDataFrame(
        [
            # key 1: v1 through Jan 10, v2 open-ended
            (1, datetime(2024, 1, 1), datetime(2024, 1, 10), "old"),
            (1, datetime(2024, 1, 10), None, "new"),
            # key 2: only appears Jan 5 onward
            (2, datetime(2024, 1, 5), None, "only"),
        ],
        ["dim_key", "valid_from", "valid_to", "attr"],
    )
    facts = spark.createDataFrame(
        [
            (10, 1, datetime(2024, 1, 9, 23, 59)),   # last minute of v1
            (11, 1, datetime(2024, 1, 10, 0, 0)),    # boundary: v2 (from incl.)
            (12, 1, datetime(2024, 2, 1)),           # deep in v2
            (13, 2, datetime(2024, 1, 1)),           # before key 2 existed
            (14, 3, datetime(2024, 1, 1)),           # unknown key
        ],
        ["event_id", "fact_key", "ts"],
    )
    out = scd2_lookup(facts, dim, "fact_key", "ts", "dim_key")
    got = {r.event_id: r.attr for r in out.collect()}
    assert got == {10: "old", 11: "new", 12: "new", 13: None, 14: None}
    # disjoint intervals -> exactly one output row per fact, even inner
    assert out.count() == 5


def test_scd2_build_collapses_noops_and_stitches_disjoint_versions(spark):
    from datetime import datetime

    from openmrs_patient_migration_script_spark.operators.etl import scd2_build

    t = lambda d: datetime(2024, 1, d)
    changes = [
        (1, t(1), "A"), (1, t(3), "A"),  # heartbeat: no new version
        (1, t(5), "B"), (1, t(8), "A"),  # value flips back: IS a version
        (2, t(2), "X"),
    ]
    df = spark.createDataFrame(changes, ["k", "ts", "v"])
    out = sorted(
        map(tuple, scd2_build(df, "k", "ts", ["v"]).collect()),
        key=lambda r: (r[0], r[4]),
    )
    assert out == [
        (1, "A", t(1), t(5), 1),   # extends across the collapsed heartbeat
        (1, "B", t(5), t(8), 2),
        (1, "A", t(8), None, 3),   # reopened value is a NEW version
        (2, "X", t(2), None, 1),
    ]


def test_scd2_build_then_lookup_reproduces_the_change_log(spark, sf_dir):
    """Round-trip invariant: looking up every original change timestamp
    against the built dimension must return that change's own payload."""
    from openmrs_patient_migration_script_spark.operators.etl import (
        scd2_build,
        scd2_lookup,
    )
    from openmrs_patient_migration_script_spark.sources import load_table

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    dim = scd2_build(e, "user_id", "ts", ["event_type"]).withColumnRenamed(
        "event_type", "dim_type"
    ).withColumnRenamed("user_id", "dim_key")
    back = scd2_lookup(e, dim, "user_id", "ts", "dim_key")
    mismatches = back.filter(
        ~F.col("event_type").eqNullSafe(F.col("dim_type"))
    ).count()
    assert mismatches == 0
    assert back.count() == e.count()  # disjoint intervals: exactly one hit


def test_bitemporal_lookup_axis_semantics(spark, tmp_path):
    """Planted version histories: a correction is visible only once its
    TRANSACTION date passes; a backdated retro change loses to a later
    validity; facts valid after V drop entirely; V is inclusive."""
    import datetime as dt

    from openmrs_patient_migration_script_spark.plans.etl_queries import (
        etl_bitemporal_lookup,
    )

    rows = [
        # k=15: v0/v1/v2 all known by T=1996-07-31; v1 (same validity,
        # later tx) beats v0; v2's validity (od-10) is older -> loses
        (15, 1, "O", 100.0, dt.datetime(1996, 1, 1), "1-URGENT"),
        # k=5: retro version's tx (od+60 = 8-24) is AFTER T -> invisible
        (5, 1, "O", 200.0, dt.datetime(1996, 6, 25), "1-URGENT"),
        # k=3: valid_from 7-15 is after V=6-30 -> no qualifying version
        (3, 1, "O", 300.0, dt.datetime(1996, 7, 15), "1-URGENT"),
        # k=1: valid_from == V exactly -> inclusive
        (1, 1, "O", 400.0, dt.datetime(1996, 6, 30), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    df.write.parquet(str(tmp_path / "orders.parquet"))
    out = {
        r["o_orderkey"]: r
        for r in etl_bitemporal_lookup(spark, str(tmp_path)).collect()
    }
    assert out[15]["version"] == 1 and out[15]["amount"] == 1100.0
    assert out[5]["version"] == 0 and out[5]["amount"] == 200.0
    assert 3 not in out
    assert out[1]["version"] == 0 and out[1]["amount"] == 400.0
