"""Semantic unit tests for the round-5 additions beyond the oracle gate:
funnel staging on a hand-built event log, Gopher-style repetition flags
on constructed repetitive/clean/degenerate docs, and politeness-wave
invariants (per-host concurrency cap, contiguous ranks, host-affine
shards). Oracle parity for all three is covered by
tests/test_entry.py::test_queries_match_oracles and the adversarial
fuzz corpus (TEXT_OPS iteration); these tests pin the SEMANTICS with
known-answer inputs instead."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tesseract_glue_spark.functions import dialect as D
from tesseract_glue_spark.plans import checks as C


@pytest.fixture(scope="module")
def funnel_out(spark):
    from tesseract_glue_spark.operators.relational import events_funnel_sql

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ev(eid, user, etype, minutes):
        return (eid, t0 + pd.Timedelta(minutes=minutes), user, etype, 1.0, "{}")

    rows = [
        # user 1: full funnel in order → stage 3
        ev(1, 1, "view", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 20),
        # user 2: click BEFORE first view must not count; later click does → stage 2
        ev(4, 2, "click", 0), ev(5, 2, "view", 5), ev(6, 2, "click", 15),
        # user 3: view only → stage 1
        ev(7, 3, "view", 0),
        # user 4: purchase exists but there is no click → stage 1
        ev(8, 4, "view", 0), ev(9, 4, "purchase", 10),
        # user 5: never viewed → absent from the funnel entirely
        ev(10, 5, "click", 0), ev(11, 5, "purchase", 5),
        # user 6: purchase BEFORE the post-view click must not count → stage 2
        ev(12, 6, "view", 0), ev(13, 6, "purchase", 5), ev(14, 6, "click", 10),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    df = spark.sql(events_funnel_sql(D.SPARK))
    out = {r["user_id"]: r.asDict() for r in df.collect()}
    spark.catalog.dropTempView("events")
    return out


class TestEventsFunnel:
    def test_stages(self, funnel_out):
        assert funnel_out[1]["funnel_stage"] == 3
        assert funnel_out[2]["funnel_stage"] == 2
        assert funnel_out[3]["funnel_stage"] == 1
        assert funnel_out[4]["funnel_stage"] == 1
        assert funnel_out[6]["funnel_stage"] == 2

    def test_non_viewers_absent(self, funnel_out):
        assert 5 not in funnel_out

    def test_strictly_later_semantics(self, funnel_out):
        # user 2's qualifying click is the minute-15 one, not minute-0
        assert funnel_out[2]["click_us"] == funnel_out[2]["view_us"] + 10 * 60_000_000
        # missing stages surface as -1, never NULL
        assert funnel_out[3]["click_us"] == -1
        assert funnel_out[3]["purchase_us"] == -1
        assert funnel_out[4]["purchase_us"] == -1

    def test_plan_has_no_inequality_join(self, spark):
        """Every stage joins on user_id equality; the ts predicates are
        filters, so no nested-loop/cartesian shape may appear."""
        from tesseract_glue_spark.operators.registry import spark_runner
        from tesseract_glue_spark.operators.relational import events_funnel_sql
        from tests.conftest import SF_DIR

        df = spark_runner(events_funnel_sql, tables=("events",))(spark, SF_DIR)
        plan = C.plan_text(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


@pytest.fixture(scope="module")
def repetition_out(spark):
    from tesseract_glue_spark.operators.text import gopher_repetition_sql

    docs = {
        1: "spam spam spam spam spam spam",          # one bigram everywhere
        2: "the quick brown fox jumps over a dog",   # all bigrams distinct
        3: "a",                                      # no grams at all
        4: "",                                       # empty
        5: "ab cd " * 30,                            # two alternating tokens
    }
    pdf = pd.DataFrame(
        [(i, t, "xx", "t", len(t)) for i, t in docs.items()],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    df = spark.sql(gopher_repetition_sql(D.SPARK))
    out = {r["doc_id"]: r.asDict() for r in df.collect()}
    spark.catalog.dropTempView("documents")
    return out


class TestGopherRepetition:
    def test_fully_repetitive_doc_flagged(self, repetition_out):
        r = repetition_out[1]
        assert r["top_bigram_x10k"] == 10000
        assert r["dup_trigram_x10k"] == 10000
        assert r["flag_repetitive"] == 1

    def test_clean_doc_not_flagged(self, repetition_out):
        r = repetition_out[2]
        # 7 distinct bigrams → top fraction 1/7 ≈ 0.1428
        assert r["top_bigram_x10k"] == 1428
        assert r["dup_trigram_x10k"] == 0
        assert r["flag_repetitive"] == 0

    def test_degenerate_docs_zero_not_null(self, repetition_out):
        for doc_id in (3, 4):
            r = repetition_out[doc_id]
            assert r["top_bigram_x10k"] == 0
            assert r["dup_trigram_x10k"] == 0
            assert r["flag_repetitive"] == 0

    def test_alternating_two_tokens_flagged(self, repetition_out):
        r = repetition_out[5]
        assert r["n_tokens"] == 60
        # 'ab cd' occurs 30 of 59 bigrams → just over half
        assert r["top_bigram_x10k"] > 5000
        assert r["flag_repetitive"] == 1


@pytest.fixture(scope="module")
def politeness_out(spark):
    from tesseract_glue_spark.operators.registry import spark_runner
    from tesseract_glue_spark.operators.crawl import host_politeness_sql
    from tests.conftest import SF_DIR

    return spark_runner(host_politeness_sql)(spark, SF_DIR).toPandas()


class TestHostPoliteness:
    def test_per_host_wave_concurrency_cap(self, politeness_out):
        from tesseract_glue_spark.operators.crawl import HOST_PARALLELISM

        per_wave = politeness_out.groupby(["host", "crawl_wave"]).size()
        assert (per_wave <= HOST_PARALLELISM).all()

    def test_ranks_contiguous_per_host(self, politeness_out):
        for _host, g in politeness_out.groupby("host"):
            ranks = sorted(g["fetch_rank"])
            assert ranks == list(range(1, len(g) + 1))

    def test_shard_is_host_affine(self, politeness_out):
        assert (politeness_out.groupby("host")["scheduler_shard"].nunique() == 1).all()

    def test_urls_canonical(self, politeness_out):
        assert politeness_out["url_norm"].str.startswith("https://h").all()
        assert not politeness_out["url_norm"].str.contains("#|WWW|:443").any()

    def test_frontier_collapses_duplicate_fetches(self, politeness_out):
        """The messy variants of one (host, slot) must collapse to ONE
        frontier row with the fetch count kept."""
        assert politeness_out["url_norm"].is_unique
        assert (politeness_out["n_fetches"] > 1).any()


class TestFunnelStream:
    def test_streaming_funnel_matches_batch(self, spark, tmp_path):
        """The stateful streaming funnel's FINAL per-user snapshot must
        equal the batch rel_events_funnel output when events arrive in
        timestamp order across micro-batches (3 chronological files,
        one per trigger)."""
        import os
        import shutil

        from tests.conftest import SF_DIR, drain_stream
        from tesseract_glue_spark.operators.relational import events_funnel_sql
        from tesseract_glue_spark.streaming.events import EVENTS_SCHEMA
        from tesseract_glue_spark.streaming.funnel_stream import funnel_state

        events = spark.read.parquet(f"{SF_DIR}/events.parquet")
        cuts = events.selectExpr(
            "percentile_approx(ts, 0.33) AS c1", "percentile_approx(ts, 0.66) AS c2"
        ).collect()[0]
        src = tmp_path / "funnel_stream_src"
        src.mkdir()
        splits = [
            events.where(F.col("ts") <= cuts["c1"]),
            events.where((F.col("ts") > cuts["c1"]) & (F.col("ts") <= cuts["c2"])),
            events.where(F.col("ts") > cuts["c2"]),
        ]
        for i, part in enumerate(splits):
            d = tmp_path / f"split-{i}"
            part.coalesce(1).write.parquet(str(d))
            (part_file,) = [f for f in d.iterdir() if f.suffix == ".parquet"]
            dst = src / f"{i}.parquet"
            shutil.copy(part_file, dst)
            os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

        stream = funnel_state(
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # one chronological micro-batch per file
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("funnel_stream_test")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain_stream(q)
        # completed funnels drop their state, so post-purchase events open a
        # SECOND funnel with strictly later timestamps; the batch query keeps
        # only the FIRST funnel, so reconcile by taking the EARLIEST snapshot
        # at the maximum stage reached (within one funnel, snapshots at the
        # same stage carry identical timestamps)
        snap = spark.sql(
            """
            SELECT user_id, view_us, click_us, purchase_us, funnel_stage FROM (
              SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY user_id
                 ORDER BY funnel_stage DESC, view_us ASC, click_us ASC,
                          purchase_us ASC) rn
              FROM funnel_stream_test
            ) WHERE rn = 1
            """
        )
        got = {r["user_id"]: tuple(r)[1:] for r in snap.collect()}
        events.createOrReplaceTempView("events")
        want = {
            r["user_id"]: tuple(r)[1:]
            for r in spark.sql(events_funnel_sql(D.SPARK)).collect()
        }
        spark.catalog.dropTempView("events")
        assert got == want
