"""Property tests (SURVEY.md section 5.2.4), orchestrator flow, text ops."""

import pytest
from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.operators.text import (
    language_id,
    quality_score,
    token_count,
)
from iiot_data_engineering_lab_assignment_spark.operators.windows import tumbling_rollup
from iiot_data_engineering_lab_assignment_spark.plans.orchestrator import NightlyFlow


def test_rollup_properties(spark, events):
    """MIN <= AVG <= MAX per group; window counts sum to input count;
    AVG*COUNT ~= SUM."""
    out = tumbling_rollup(events, "ts", "1 minute", ["user_id", "event_type"])
    bad = out.filter(
        (F.col("min_value") > F.col("avg_value")) | (F.col("avg_value") > F.col("max_value"))
    ).count()
    assert bad == 0
    assert out.agg(F.sum("count_readings")).head()[0] == events.count()
    recon = out.withColumn("recon", F.col("avg_value") * F.col("count_readings"))
    total_recon = recon.agg(F.sum("recon")).head()[0]
    total = events.agg(F.sum("value")).head()[0]
    assert abs(total_recon - total) < 1e-6 * abs(total)


def test_sliding_window_doubles_mass(spark, events):
    """1min/30s hop: every event lands in exactly 2 windows."""
    from iiot_data_engineering_lab_assignment_spark.operators.windows import sliding_rollup

    out = sliding_rollup(events, "ts", "1 minute", "30 seconds", ["user_id"])
    assert out.agg(F.sum("count_readings")).head()[0] == 2 * events.count()


def test_token_count_matches_split(spark, documents):
    mismatch = (
        documents.withColumn("a", token_count("text"))
        .withColumn("b", F.size(F.split("text", " ")).cast("long"))
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mismatch == 0


def test_quality_score_bounds(spark, documents):
    out = quality_score(documents)
    assert out.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count() == 0


def test_language_id_emits_known_codes(spark, documents):
    out = language_id(documents)
    codes = {r["lang_pred"] for r in out.select("lang_pred").distinct().collect()}
    assert codes <= {"en", "de", "fr", "es", "zh", None}


def test_orchestrator_success_path():
    flow = NightlyFlow(max_retries=3, retry_delay_s=0.01)
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return "ok"

    ok = flow.run_etl_flow(
        check_source=lambda: "src ok",
        check_lake=lambda: "lake ok",
        run_job=flaky,
        verify=lambda: "counts match",
    )
    assert ok
    assert [r.name for r in flow.results] == [
        "check_source",
        "check_lake",
        "run_spark_job",
        "verify_counts",
    ]
    assert flow.results[2].attempts == 2  # retried once


def test_orchestrator_stops_on_failure():
    flow = NightlyFlow(max_retries=2, retry_delay_s=0.01)
    ran = []

    def boom():
        raise RuntimeError("down")

    ok = flow.run_etl_flow(
        check_source=lambda: ran.append("src") or "ok",
        check_lake=boom,
        run_job=lambda: ran.append("job") or "ok",
        verify=lambda: ran.append("verify") or "ok",
    )
    assert not ok
    assert "job" not in ran  # failed connectivity must not launch the job
    assert flow.results[-1].attempts == 2


def test_jdbc_reader_requires_bounds(spark):
    """S3 scaling fix: the partitioned JDBC reader refuses the reference's
    single-partition mistake by requiring explicit bounds."""
    from iiot_data_engineering_lab_assignment_spark.sources.readers import read_jdbc_partitioned

    with pytest.raises(TypeError):
        read_jdbc_partitioned(spark, "jdbc:postgresql://x/db", "t")  # type: ignore[call-arg]


def test_driver_window_is_first_50_and_family_complete():
    """The verification driver cross-checks the first 50 QUERIES in
    insertion order; DRIVER_WINDOW pins that slice to the maximum-coverage
    set (round-2 verdict ask #1).  Guard both the ordering and the
    presence of every operator family's representative."""
    from iiot_data_engineering_lab_assignment_spark import registry

    names = list(registry.QUERIES)
    assert len(registry.DRIVER_WINDOW) == 50
    assert names[: len(registry.DRIVER_WINDOW)] == registry.DRIVER_WINDOW
    # round-15 rotation (r14 verdict ask #1): the five r15 registrations
    # under first driver check, the 2 deferred r7 rows, the complete r8
    # cohort, and the first 4 rows of the rolling r10 tier
    required = [
        # r15 new registrations under first driver check
        "profile_salted_rollup_by_user", "profile_salted_join_right_events",
        "bpe_learned_merges64", "stream_late_drop_count",
        "curation_e2e_composed",
        # the r14 deferral, now cleared
        "dedup_keep_best_lsh", "multimodal_video_frames",
        # r8 cohort spot-checks
        "bm25_search", "scd2_point_in_time_join", "stream_tumbling_1m",
        "incremental_dedup_new_docs", "epoch_shuffle_order",
        # the rolling r10 tier starts
        "association_rules_parts", "benford_leading_digit",
    ]
    for name in required:
        assert name in registry.DRIVER_WINDOW, name
    # the window is ALL-oracle: every entry value-hash-checks (the last
    # rows-only queries were upgraded to envelope oracles this round)
    for name in registry.DRIVER_WINDOW:
        assert registry.QUERIES[name].oracle is not None, name


def test_nightly_etl_counts_verified(spark, events, tmp_path):
    """Task-5 wiring end-to-end: the flow writes the partitioned table and
    the verify step reads back per-partition counts that sum to the
    source count."""
    from iiot_data_engineering_lab_assignment_spark.plans.orchestrator import NightlyFlow, run_nightly_etl

    flow = NightlyFlow(max_retries=2, retry_delay_s=0.01)
    path = str(tmp_path / "nightly")
    ok = run_nightly_etl(spark, events.limit(500), path, ts_col="ts", flow=flow)
    assert ok
    names = [r.name for r in flow.results]
    assert names == ["check_source", "check_lake", "run_spark_job", "verify_counts"]
    detail = flow.results[-1].detail
    assert detail.startswith("total=500 partitions=")
    # the reported per-partition counts sum to the total
    parts = detail.split("partitions=")[1].split(",")
    assert sum(int(p.split(":")[1]) for p in parts) == 500


def test_nightly_etl_detects_count_mismatch(spark, events, tmp_path):
    """A verify step that reads back FEWER rows than the source must fail
    the flow (after exhausting retries), not pass silently."""
    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import write_partitioned_by_date
    from iiot_data_engineering_lab_assignment_spark.plans.orchestrator import (
        NightlyFlow,
        verify_written_counts,
    )

    path = str(tmp_path / "short")
    write_partitioned_by_date(events.limit(100), path, "ts", mode="overwrite", dynamic=False)
    flow = NightlyFlow(max_retries=2, retry_delay_s=0.01)
    r = flow.step("verify_counts", lambda: verify_written_counts(spark, path, 101))
    assert not r.ok and r.attempts == 2
    assert "100 != source count 101" in r.detail


def test_step_retry_schedule_fails_twice_succeeds_third(spark, events, tmp_path, monkeypatch):
    """Round-2 verdict ask #8: a transient step failing twice succeeds on
    the third attempt, the retry delays follow the configured schedule,
    and the final detail carries the verified counts."""
    from iiot_data_engineering_lab_assignment_spark.plans import orchestrator as orch
    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import write_partitioned_by_date

    path = str(tmp_path / "flaky")
    write_partitioned_by_date(events.limit(200), path, "ts", mode="overwrite", dynamic=False)

    sleeps: list[float] = []
    monkeypatch.setattr(orch, "_sleep", sleeps.append)

    calls = {"n": 0}

    def flaky_verify() -> str:
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError(f"transient outage #{calls['n']}")
        return orch.verify_written_counts(spark, path, 200)

    flow = orch.NightlyFlow(max_retries=3, retry_delay_s=7.5)
    r = flow.step("verify_counts", flaky_verify)
    assert r.ok and r.attempts == 3
    assert sleeps == [7.5, 7.5]  # one delay between each failed attempt, none after success
    assert r.detail.startswith("total=200 partitions=")


def test_nightly_etl_wap_publishes_and_survives_bad_run(spark, events, tmp_path):
    """WAP-mode nightly flow: a good run publishes atomically; a
    subsequent run whose audit must fail (count mismatch injected by an
    empty source) stops at check_source and the published table stays
    intact — the property plain-overwrite cannot give."""
    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import read_published
    from iiot_data_engineering_lab_assignment_spark.plans.orchestrator import (
        NightlyFlow,
        run_nightly_etl_wap,
    )

    table = str(tmp_path / "wap_nightly")
    flow = NightlyFlow(max_retries=2, retry_delay_s=0.01)
    ok = run_nightly_etl_wap(spark, events.limit(300), table, ts_col="ts", flow=flow)
    assert ok
    assert [r.name for r in flow.results] == [
        "check_source", "check_lake", "run_spark_job", "verify_counts"
    ]
    assert flow.results[2].detail.startswith("published v")
    assert read_published(spark, table).count() == 300

    bad = NightlyFlow(max_retries=1, retry_delay_s=0.01)
    assert not run_nightly_etl_wap(
        spark, events.limit(0), table, ts_col="ts", flow=bad
    )
    # the published table is untouched by the failed run
    assert read_published(spark, table).count() == 300


def test_bench_query_names_are_registered():
    """bench.py's HEADLINE/EXTENDED lists are run by the external driver;
    a registry rename that orphans a name would crash that run — guard
    the linkage here."""
    import bench

    from iiot_data_engineering_lab_assignment_spark import registry

    for name in bench.HEADLINE + bench.EXTENDED:
        assert name in registry.QUERIES, name
    assert len(set(bench.HEADLINE + bench.EXTENDED)) == len(
        bench.HEADLINE + bench.EXTENDED
    )


def test_bench_record_says_when_flags_are_disarmed(tmp_path, capsys):
    """The regression flags compare only records of the current fixture
    generation; with none committed they are all off.  The bench record
    carries that as ``flags_armed``, next to the stderr note."""
    import json

    import bench

    rec = tmp_path / "BENCH_local_r01.json"
    rec.write_text(
        json.dumps(
            {"queries": {"q1": 2.0}, "calibration": 1.0, "fixture_fingerprint": "gen-a"}
        )
    )
    other = bench._load_floors([str(rec)], "gen-b", 1.0, 1.0)
    assert other.record_fields() == {"n_same_generation_records": 0, "flags_armed": False}
    assert other.floor == {} and other.cost == {"q1": 2.0}
    assert "BENCH FLOORS: no committed record matches" in capsys.readouterr().err

    same = bench._load_floors([str(rec)], "gen-a", 2.0, 1.0)
    assert same.record_fields() == {"n_same_generation_records": 1, "flags_armed": True}
    assert same.floor == {"q1": 2.0} and same.norm_floor == {"q1": 4.0}
    assert capsys.readouterr().err == ""
