"""Round-9 regression pins: code-change-aware driver rotation,
multi-Arrow-chunk stateful streaming folds (ADVICE r8 medium), the
manifest-temp crashed-commit guard (ADVICE r8 low), and the
value-domain-bounded ev_time_to_convert median refinement."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.plans import load_events
from tests.conftest import SF_SMALL


class TestRotationCodeChangeAware:
    def test_stale_key_unchanged_source_keeps_round(self):
        from mwa_uvdata_pipeline_spark.plans import _stale_key

        assert _stale_key("a", 5, "h1", "h1") == (5, "a")

    def test_stale_key_changed_source_sorts_never_verified(self):
        from mwa_uvdata_pipeline_spark.plans import _stale_key

        # source edited since the last green row → round-0 group, so
        # the driver re-samples next round, not when the row ages out
        assert _stale_key("a", 7, "old", "new") == (0, "a")

    def test_stale_key_missing_record_sorts_never_verified(self):
        from mwa_uvdata_pipeline_spark.plans import _stale_key

        assert _stale_key("a", 7, None, "h") == (0, "a")

    def test_load_all_orders_changed_entries_first(self, monkeypatch):
        """End-to-end policy: with a recorded hash mismatching the
        current plan source, the entry must sort ahead of every
        unchanged entry regardless of how recently it was verified."""
        import mwa_uvdata_pipeline_spark.plans as P

        P.load_all()  # ensure registry populated
        names = sorted(P.PLANS)[:3]
        a, b, c = names  # alphabetical: a < b < c
        cur = {n: P.plan_src_hash(P.PLANS[n]) for n in names}
        monkeypatch.setattr(
            P, "_last_verified_round", lambda: {a: 2, b: 8, c: 5}
        )
        monkeypatch.setattr(
            P,
            "_load_verified",
            lambda: {
                a: {"round": 2, "src": cur[a]},
                b: {"round": 8, "src": "SENTINEL-mismatch"},
                c: {"round": 5, "src": cur[c]},
            },
        )
        ordered = [n for n in P.load_all() if n in names]
        # b was verified most recently (r8) but its source changed →
        # first; then a (r2) before c (r5) by staleness
        assert ordered == [b, a, c]

    def test_load_all_without_verified_falls_back_stalest_first(
        self, monkeypatch
    ):
        import mwa_uvdata_pipeline_spark.plans as P

        P.load_all()
        names = sorted(P.PLANS)[:2]
        a, b = names
        monkeypatch.setattr(
            P, "_last_verified_round", lambda: {a: 9, b: 1}
        )
        monkeypatch.setattr(P, "_load_verified", lambda: {})
        ordered = [n for n in P.load_all() if n in names]
        assert ordered == [b, a]

    def test_verified_json_committed_and_covers_registry(self):
        """The ledger file must exist in the repo (the fallback path
        is for fresh checkouts only) and cover every driver-verified
        entry.

        Tolerated gap (r9 verdict #1, tightened per r10 advice): an
        entry whose ONLY green rows are in the NEWEST CORRECTNESS
        file may be unstamped — the driver writes that file after the
        build session ends, so the stamp can only happen at next
        round's start. An entry with a green row in any OLDER round
        must be stamped, always — even if it was ALSO re-verified in
        the newest round (the old green row was stampable last round).
        """
        import json
        import re
        from pathlib import Path

        import mwa_uvdata_pipeline_spark.plans as P

        P.load_all()
        root = Path(__file__).resolve().parents[1]
        rec = json.loads((root / "VERIFIED.json").read_text())
        green_rounds: dict[str, set[int]] = {}
        for path in sorted(root.glob("CORRECTNESS_r*.json")):
            m = re.search(r"r(\d+)", path.stem)
            rnd = int(m.group(1)) if m else 0
            for name, row in json.loads(path.read_text()).items():
                if isinstance(row, dict) and row.get("hash_match"):
                    green_rounds.setdefault(name, set()).add(rnd)
        newest = max(
            (r for rs in green_rounds.values() for r in rs), default=0
        )
        missing = {
            name
            for name in set(green_rounds) & set(P.PLANS) - set(rec)
            if min(green_rounds[name]) < newest
        }
        assert not missing, f"unstamped verified entries: {missing}"


@pytest.fixture()
def tiny_arrow_chunks(spark):
    """Force applyInPandasWithState to deliver each key's micro-batch
    as MANY small Arrow chunks (the production default is 10k rows, so
    small tests never exercise the multi-chunk path)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def replay_dir9(spark, tmp_path_factory):
    from mwa_uvdata_pipeline_spark.streaming.events import replay_events

    out = tmp_path_factory.mktemp("events_replay9")
    # 2 slices → big per-key batches, so chunking actually splits keys
    replay_events(load_events(spark, SF_SMALL), str(out), n_files=2)
    return str(out)


class TestMultiChunkStatefulFolds:
    """ADVICE r8 medium: a key's micro-batch may arrive as multiple
    Arrow chunks in unsorted shuffle order; the (ts, event_id) sort
    must span the whole batch. These tests pin batch equality with
    2-row chunks, where the old per-chunk sort diverges."""

    def test_vshapes_match_batch_with_tiny_chunks(
        self, spark, replay_dir9, tiny_arrow_chunks
    ):
        from mwa_uvdata_pipeline_spark.streaming.events import (
            run_to_memory,
            stream_pattern_vshapes,
        )

        run_to_memory(
            stream_pattern_vshapes(spark, f"{replay_dir9}/part*"),
            "vshape_chunk_sink",
            output_mode="update",
        )
        got = {
            (r["user_id"], r["event_type"]): r["nv"]
            for r in spark.sql(
                "SELECT user_id, event_type, "
                "max_by(n_vshapes, n_seen) AS nv "
                "FROM vshape_chunk_sink GROUP BY user_id, event_type"
            ).collect()
        }
        ev = load_events(spark, SF_SMALL)
        cents = F.round(F.col("value") * 100).cast("long")
        w = Window.partitionBy("user_id", "event_type").orderBy(
            "ts", "event_id"
        )
        want = {
            (r["user_id"], r["event_type"]): r["nv"]
            for r in ev.select(
                "user_id",
                "event_type",
                cents.alias("c"),
                F.lag(cents, 1).over(w).alias("p1"),
                F.lag(cents, 2).over(w).alias("p2"),
            )
            .groupBy("user_id", "event_type")
            .agg(
                F.sum(
                    (
                        (F.col("p2") > F.col("p1"))
                        & (F.col("p1") < F.col("c"))
                    ).cast("long")
                ).alias("nv")
            )
            .collect()
        }
        assert got == want

    def test_cadence_moments_match_batch_with_tiny_chunks(
        self, spark, replay_dir9, tiny_arrow_chunks
    ):
        from mwa_uvdata_pipeline_spark.streaming.events import (
            run_to_memory,
            stream_cadence_moments,
        )

        run_to_memory(
            stream_cadence_moments(spark, f"{replay_dir9}/part*"),
            "cadence_chunk_sink",
            output_mode="update",
        )
        got = {
            r["user_id"]: (r["ng"], r["s1"], r["s2"])
            for r in spark.sql(
                "SELECT user_id, max_by(n_gaps, n_seen) AS ng, "
                "max_by(s1, n_seen) AS s1, max_by(s2, n_seen) AS s2 "
                "FROM cadence_chunk_sink GROUP BY user_id"
            ).collect()
        }
        from mwa_uvdata_pipeline_spark.plans import epoch_us

        ev = load_events(spark, SF_SMALL)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gaps = (
            ev.select(
                "user_id",
                ((epoch_us(ev) - F.lag(epoch_us(ev), 1).over(w)) / F.lit(1))
                .cast("long")
                .alias("d_us"),
            )
            .where(F.col("d_us").isNotNull())
            .select("user_id", F.expr("d_us div 1000000").alias("g"))
        )
        want = {
            r["user_id"]: (r["ng"], r["s1"], r["s2"])
            for r in gaps.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("ng"),
                F.sum("g").alias("s1"),
                F.sum(F.col("g") * F.col("g")).alias("s2"),
            )
            .collect()
        }
        for u, triple in want.items():
            assert got.get(u) == triple, u


class TestStreamMinhashIncremental:
    """Round-9 streaming near-dup: incremental MinHash+LSH candidate
    pairing with bounded bucket state."""

    def test_stream_pairs_equal_batch_formulation(self, spark, tmp_path):
        """Pair-for-pair equality (stronger than the exec entry's
        census): the streamed candidate set must equal 'a < b share a
        band key AND a is among the bucket's first cap members'."""
        from mwa_uvdata_pipeline_spark.streaming.docs import (
            _band_rows,
            replay_docs,
            stream_minhash_pairs,
        )
        from mwa_uvdata_pipeline_spark.streaming.events import run_to_memory
        from tests.conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        out = str(tmp_path / "replay")
        replay_docs(docs, out, n_files=3)
        run_to_memory(
            stream_minhash_pairs(spark, f"{out}/part*", cap=8),
            "mh_pair_sink",
            output_mode="update",
        )
        got = {
            (r["doc_a"], r["doc_b"])
            for r in spark.sql(
                "SELECT DISTINCT doc_a, doc_b FROM mh_pair_sink"
            ).collect()
        }
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        bands = _band_rows(docs)
        rn = F.row_number().over(
            Window.partitionBy("band", "key").orderBy("doc_id")
        )
        a = bands.withColumn("rn", rn).where(F.col("rn") <= 8).select(
            F.col("band").alias("ab"), F.col("key").alias("ak"),
            F.col("doc_id").alias("doc_a"),
        )
        b = bands.select(
            F.col("band").alias("bb"), F.col("key").alias("bk"),
            F.col("doc_id").alias("doc_b"),
        )
        want = {
            (r["doc_a"], r["doc_b"])
            for r in a.join(
                b,
                (F.col("ab") == F.col("bb"))
                & (F.col("ak") == F.col("bk"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b")
            .distinct()
            .collect()
        }
        assert got == want
        assert got, "expected at least one near-dup candidate pair"

    def test_hot_bucket_state_caps(self, spark, tmp_path):
        """100 identical docs land in one bucket: state stores only
        the first `cap` ids and each arrival emits exactly `cap`
        pairs — the bounded-posting discipline, incrementally."""
        from pyspark.sql import functions as F

        from mwa_uvdata_pipeline_spark.streaming.docs import (
            replay_docs,
            stream_minhash_pairs,
        )
        from mwa_uvdata_pipeline_spark.streaming.events import run_to_memory

        docs = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.lit("alpha beta gamma delta epsilon").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("synthetic").alias("source"),
            F.lit(30).alias("n_chars"),
        )
        out = str(tmp_path / "hot")
        replay_docs(docs, out, n_files=2)
        run_to_memory(
            stream_minhash_pairs(spark, f"{out}/part*", cap=4),
            "mh_hot_sink",
            output_mode="update",
        )
        pairs = spark.sql(
            "SELECT DISTINCT doc_a, doc_b FROM mh_hot_sink"
        ).collect()
        stored = {r["doc_a"] for r in pairs}
        # only the first 4 arrivals are ever stored / appear as doc_a
        assert stored == {0, 1, 2, 3}
        # every later doc pairs with exactly the 4 stored members
        n_per_b = {}
        for r in pairs:
            n_per_b[r["doc_b"]] = n_per_b.get(r["doc_b"], 0) + 1
        assert all(
            n == min(b, 4) for b, n in n_per_b.items()
        ), sorted(n_per_b.items())[:8]


class TestMwabManifestTempGuard:
    def test_refuses_manifest_temp_without_manifest(self, tmp_path):
        """ADVICE r8 low: a crash after all part renames but before
        the manifest publish leaves `_MANIFEST.json.inprogress` (no
        leading dot, so the dotted-temp glob misses it); the reader
        must refuse the plain-glob fallback there too."""
        from mwa_uvdata_pipeline_spark.mwab import _committed_files

        (tmp_path / "part-aa-000000-t000000.mwab").write_bytes(b"x")
        (tmp_path / "_MANIFEST.json.inprogress").write_text("{}")
        with pytest.raises(ValueError, match="in-progress"):
            _committed_files(str(tmp_path / "*.mwab"))

    def test_manifest_present_wins_over_leftover_temp(self, tmp_path):
        """A COMMITTED manifest plus a leftover temp from a later
        (crashed) retry is still readable — the manifest listing
        masks the orphans; only the no-manifest case refuses."""
        import json

        from mwa_uvdata_pipeline_spark.mwab import _committed_files

        (tmp_path / "part-aa-000000-t000000.mwab").write_bytes(b"x")
        (tmp_path / "_MANIFEST.json").write_text(
            json.dumps({"files": ["part-aa-000000-t000000.mwab"]})
        )
        (tmp_path / "_MANIFEST.json.inprogress").write_text("{}")
        got = _committed_files(str(tmp_path / "*.mwab"))
        assert [p.rsplit("/", 1)[-1] for p in got] == [
            "part-aa-000000-t000000.mwab"
        ]


class TestBenchLineBudget:
    """VERDICT r8 #5: the driver parses only the FINAL bench line from
    a ~2000-char tail window; BENCH_r07 was lost to truncation. Pin
    that the line stays under budget at the CURRENT roster and that
    the trim path degrades by dropping the fastest queries."""

    def test_final_line_under_budget_at_current_roster(self):
        import bench
        from mwa_uvdata_pipeline_spark.plans import PLANS, load_all

        load_all()
        roster = [n for n in PLANS if PLANS[n].bench]
        assert roster, "no bench-flagged plans?"
        # worst-case widths: every query at a 3-digit-seconds time
        timings = {n: 123.456 for n in roster}
        out = bench.final_line(999.999, timings, len(roster), 0.1)
        assert len(out) < 1800, f"{len(out)} chars at {len(roster)} queries"

    def test_trim_keeps_slowest_and_counts_omitted(self):
        import json

        import bench

        timings = {f"query_with_a_long_name_{i:04d}": float(i) for i in range(200)}
        out = bench.final_line(1.0, timings, 0, 0.1, budget=1000)
        assert len(out) <= 1000
        parsed = json.loads(out)
        kept = parsed["queries"]
        assert parsed["queries_omitted"] == 200 - len(kept)
        # kept set is exactly the slowest ones
        slowest = sorted(timings, key=timings.get, reverse=True)[: len(kept)]
        assert set(kept) == set(slowest)
        assert parsed["value"] == 1.0

    def test_no_trim_when_it_fits(self):
        import json

        import bench

        out = bench.final_line(1.0, {"a": 0.5}, 0, 0.01)
        assert "queries_omitted" not in json.loads(out)


class TestDuplicateTimestampSessionSplit:
    """VERDICT r8 #7 residual: the r8 tie-order fix threaded event_id
    through the session-split cumsums in both engines; pin engine
    equality on a table built to be ALL ties — many rows per user
    sharing exact timestamps, including duplicates exactly at the
    30-minute gap boundary."""

    @pytest.fixture(scope="class")
    def tie_dir(self, tmp_path_factory):
        import pandas as pd

        rows = []
        eid = 0
        base = pd.Timestamp("2024-02-01 00:00:00")
        for u in range(8):
            # burst of 5 events at the same instant
            for _ in range(5):
                rows.append((eid, base, u, "view", 1.0, "{}"))
                eid += 1
            # another burst exactly 30 minutes later (gap == threshold:
            # NOT a new session, us - pus > 1800s is strict)
            for _ in range(3):
                rows.append(
                    (eid, base + pd.Timedelta(minutes=30), u, "view", 1.0, "{}")
                )
                eid += 1
            # and one 30 minutes + 1 microsecond after that: new session
            rows.append(
                (
                    eid,
                    base + pd.Timedelta(minutes=60, microseconds=1),
                    u,
                    "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        d = tmp_path_factory.mktemp("ties")
        pdf.to_parquet(d / "events.parquet", index=False)
        return str(d)

    @pytest.mark.parametrize(
        "name", ["j11_interval_overlap", "ev_peak_concurrency"]
    )
    def test_engines_agree_on_all_tied_timestamps(self, spark, tie_dir, name):
        import math

        import duckdb

        from mwa_uvdata_pipeline_spark.plans import PLANS

        sdf = PLANS[name].spark(spark, tie_dir).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tie_dir}/events.parquet')"
        )
        odf = con.execute(PLANS[name].sql).df()

        def canon(df):
            df = df.reindex(sorted(df.columns), axis=1)
            out = df.map(
                lambda v: "<null>"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (repr(v) if isinstance(v, float) else str(v))
            )
            return out.sort_values(by=list(out.columns)).reset_index(
                drop=True
            )

        a, b = canon(sdf), canon(odf)
        assert list(a.columns) == list(b.columns)
        assert a.values.tolist() == b.values.tolist()


class TestTimeToConvertRefinement:
    def test_no_row_level_rank_in_plan(self, spark):
        """The pass-2/3 refinement must never rank rows: an
        all-converters-in-one-hour-bin distribution degraded the old
        row_number() pass to one O(converters) task. Value-domain
        cumulation has no row_number at all."""
        import inspect

        from mwa_uvdata_pipeline_spark.plans.events import (
            ev_time_to_convert,
        )

        src = inspect.getsource(ev_time_to_convert)
        assert "row_number" not in src

    def test_median_correct_when_one_bin_holds_everything(
        self, spark, tmp_path
    ):
        """Adversarial distribution: every converter delta inside ONE
        one-hour bin (and one hot second) — the exact case the ADVICE
        note flagged. Median must still be exact."""
        import duckdb

        from mwa_uvdata_pipeline_spark.plans import PLANS

        rows = []
        eid = 0
        # 101 users sign up at t0; user u converts u seconds later —
        # deltas 0..100s, all inside hour-bin 0; plus ties: 50 extra
        # users convert at exactly 40s (one hot micro value)
        for u in range(101):
            rows.append((eid, u, "signup", "2024-01-01 00:00:00.000000", 1.0))
            eid += 1
            when = (
                f"2024-01-01 00:00:{u:02d}.000000"
                if u < 60
                else f"2024-01-01 00:00:40.{u:06d}"
            )
            rows.append((eid, u, "purchase", when, 1.0))
            eid += 1
        import pandas as pd

        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        sf = tmp_path / "sf_onebin"
        sf.mkdir()
        pdf.to_parquet(sf / "events.parquet", index=False)
        got = {
            r["median_dt_us"]
            for r in PLANS["ev_time_to_convert"].spark(spark, str(sf)).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf}/events.parquet')"
        )
        want = con.execute(
            "SELECT CAST(median(dt) AS BIGINT) FROM ("
            "  SELECT epoch_us(MIN(CASE WHEN event_type='purchase' THEN ts END))"
            "       - epoch_us(MIN(CASE WHEN event_type='signup' THEN ts END)) AS dt"
            "  FROM events GROUP BY user_id)"
        ).fetchone()[0]
        assert got == {want}


# ---------------------------------------------------------------- r9 wave 2


class TestLabelPropagation:
    def test_matches_python_flood(self, spark):
        """graph_label_propagation's 3 synchronized min-label rounds
        must equal a pure-Python re-derivation from the same edge
        list (community histogram compared exactly)."""
        from collections import Counter

        from mwa_uvdata_pipeline_spark.plans import load_all

        rows = (
            spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
            .where(F.col("l_quantity") >= 30)
            .select("l_orderkey", "l_partkey")
            .collect()
        )
        baskets: dict[int, set[int]] = {}
        for r in rows:
            baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
        adj: dict[int, set[int]] = {}
        for ps in baskets.values():
            for u in ps:
                for v in ps:
                    if u != v:
                        adj.setdefault(u, set()).add(v)
        lbl = {n: n for n in adj}
        for _ in range(3):
            lbl = {
                n: min(lbl[n], min(lbl[v] for v in adj[n]))
                for n in adj
            }
        hist = Counter(lbl.values())
        want = sorted(
            ((c, l) for l, c in hist.items()),
            key=lambda t: (-t[0], t[1]),
        )[:20]

        got = [
            (r["n_nodes"], r["community"])
            for r in load_all()["graph_label_propagation"]
            .spark(spark, SF_SMALL)
            .collect()
        ]
        assert got == want

    def test_three_rounds_reach_components_on_small_graph(self, spark):
        """On sf0.001 the co-purchase graph's diameter is small enough
        that 3 min-label rounds converge to full connected components
        — pin that the histogram equals a union-find's."""
        from mwa_uvdata_pipeline_spark.plans import load_all

        rows = (
            spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
            .where(F.col("l_quantity") >= 30)
            .select("l_orderkey", "l_partkey")
            .collect()
        )
        baskets: dict[int, list[int]] = {}
        for r in rows:
            baskets.setdefault(r["l_orderkey"], []).append(r["l_partkey"])
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ps in baskets.values():
            ps = sorted(set(ps))
            if len(ps) < 2:
                continue
            for p in ps:
                parent.setdefault(p, p)
            for p in ps[1:]:
                ra, rb = find(ps[0]), find(p)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        from collections import Counter

        comp = Counter(find(n) for n in parent)
        want = sorted(
            ((c, l) for l, c in comp.items()), key=lambda t: (-t[0], t[1])
        )[:20]
        got = [
            (r["n_nodes"], r["community"])
            for r in load_all()["graph_label_propagation"]
            .spark(spark, SF_SMALL)
            .collect()
        ]
        assert got == want


# -- shared pure-Python logreg eval re-derivation (ONE copy, used by
# -- TestAucHoldout and TestCalibrationBins so the "both eval twins
# -- score the SAME model" claim is enforced by construction)


def _logreg_score_fn():
    """Quantized rational-sigmoid scorer: score(w, x1, x2) -> micro."""
    from decimal import ROUND_HALF_UP, Decimal

    def round_half_up(x: float) -> int:
        return int(
            Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    def score(w, x1: int, x2: int) -> int:
        z = (w[0] + w[1] * x1 + w[2] * x2) / 1e6
        sig = 0.5 + z / (2.0 * (1.0 + abs(z)))
        return round_half_up(1000000.0 * sig)

    return score


def _logreg_python_eval_model(spark):
    """Collect lineitem, apply the md5 train/test split, re-walk the
    3-round quantized GD trajectory on the train grid. Returns
    (weights, test_rows, score_fn)."""
    import hashlib

    rows = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("y"),
            F.round("l_quantity").cast("long").alias("x1"),
            F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        )
        .collect()
    )

    def bucket(r) -> str:
        key = f"{r['l_orderkey']}|{r['l_linenumber']}".encode()
        return hashlib.md5(key).hexdigest()[:2]

    train = [r for r in rows if bucket(r) < "cd"]
    test = [r for r in rows if bucket(r) >= "e6"]
    assert train and test  # the split must be non-degenerate here

    stats: dict[tuple[int, int], list[int]] = {}
    for r in train:
        c = stats.setdefault((r["x1"], r["x2"]), [0, 0])
        c[0] += 1
        c[1] += r["y"]
    nt = sum(c[0] for c in stats.values())

    def sdiv(a: int, b: int) -> int:
        return a // b if a >= 0 else -((-a) // b)

    score = _logreg_score_fn()
    w = (0, 0, 0)
    for _ in range(3):
        g = [0, 0, 0]
        for (x1, x2), (n, sy) in stats.items():
            pm = score(w, x1, x2)
            r = n * pm - sy * 1000000
            g[0] += r
            g[1] += r * x1
            g[2] += r * x2
        w = tuple(w[j] - sdiv(g[j], 4096 * nt) for j in range(3))
    return w, test, score


class TestAucHoldout:
    def test_matches_python_pair_count(self, spark):
        """ml_auc_holdout must equal brute-force Mann-Whitney pair
        counting (ties at half weight) over a pure-Python re-walk of
        the train-split GD trajectory and test-split scoring."""
        from mwa_uvdata_pipeline_spark.plans import load_all

        w, test, score = _logreg_python_eval_model(spark)

        pos = [score(w, r["x1"], r["x2"]) for r in test if r["y"] == 1]
        neg = [score(w, r["x1"], r["x2"]) for r in test if r["y"] == 0]
        # brute force: 2*AUC*P*N counts wins twice and ties once
        auc_num = sum(
            2 if p > n else (1 if p == n else 0) for p in pos for n in neg
        )
        auc_den = 2 * len(pos) * len(neg)

        got = (
            load_all()["ml_auc_holdout"].spark(spark, SF_SMALL).collect()
        )
        assert len(got) == 1
        r = got[0]
        assert (
            r["p_total"],
            r["n_total"],
            r["auc_num"],
            r["auc_den"],
            r["auc_ppm"],
        ) == (
            len(pos),
            len(neg),
            auc_num,
            auc_den,
            auc_num * 1000000 // max(auc_den, 1),
        )


class TestWalshBins:
    def test_matches_stdlib_decode_and_definition(self, spark):
        """m_audio_walsh_bins must equal an INDEPENDENT stdlib-struct
        decode of the same payload bytes folded by the textbook
        definition W_k = sum_i s[i] * (-1)^popcount(k & i)."""
        import struct
        import wave
        import io

        from mwa_uvdata_pipeline_spark.operators.multimodal import (
            synth_wav_bytes,
        )
        from mwa_uvdata_pipeline_spark.plans import load_all

        out = {
            r["doc_id"]: r
            for r in load_all()["m_audio_walsh_bins"]
            .spark(spark, SF_SMALL)
            .collect()
        }
        assert out
        for doc_id in sorted(out)[:5] + sorted(out)[-3:]:
            with wave.open(io.BytesIO(synth_wav_bytes(doc_id)), "rb") as w:
                nfr = w.getnframes()
                s = struct.unpack(f"<{nfr}h", w.readframes(nfr))
            ws = []
            for k in range(4):
                ws.append(
                    sum(
                        v * (1 if bin(k & i).count("1") % 2 == 0 else -1)
                        for i, v in enumerate(s)
                    )
                )
            dom = max((1, 2, 3), key=lambda k: (abs(ws[k]), -k))
            r = out[doc_id]
            assert (
                r["n_samples"],
                r["w0"],
                r["w1"],
                r["w2"],
                r["w3"],
                r["dominant_bin"],
            ) == (nfr, ws[0], ws[1], ws[2], ws[3], dom)


class TestQuantileSketchError:
    def test_matches_python_and_error_bound(self, spark):
        """agg_quantile_sketch_error must equal a pure-Python
        re-derivation (128-bin equi-width sketch, capped within-bin
        interpolation, exact rank recount) and respect the provable
        envelope |rank_err| <= bin_pop (estimate and target rank
        share a bin by construction)."""
        from mwa_uvdata_pipeline_spark.plans import load_all, load_events

        cents = [
            int(
                __import__("decimal").Decimal(repr(r["value"] * 100))
                .quantize(
                    __import__("decimal").Decimal(1),
                    rounding=__import__("decimal").ROUND_HALF_UP,
                )
            )
            for r in load_events(spark, SF_SMALL).select("value").collect()
        ]
        mn, mx, n = min(cents), max(cents), len(cents)
        binw = (mx - mn) // 128 + 1
        hist: dict[int, int] = {}
        for c in cents:
            b = (c - mn) // binw
            hist[b] = hist.get(b, 0) + 1
        want = {}
        for q in (50, 90, 99):
            k = (q * n + 99) // 100
            cumc = 0
            for b in sorted(hist):
                before, cumc = cumc, cumc + hist[b]
                if cumc >= k > before:
                    est = min(
                        mn + b * binw + ((k - before) * binw) // hist[b],
                        mn + (b + 1) * binw - 1,
                    )
                    rank = sum(1 for c in cents if c <= est)
                    want[q] = (n, k, est, rank, rank - k, hist[b])
                    break
        got = {
            r["q"]: (
                r["n"],
                r["k_target"],
                r["est_cents"],
                r["actual_rank"],
                r["rank_err"],
                r["bin_pop"],
            )
            for r in load_all()["agg_quantile_sketch_error"]
            .spark(spark, SF_SMALL)
            .collect()
        }
        assert got == want
        for q, (_, _, _, _, err, pop) in got.items():
            assert abs(err) <= pop, (q, err, pop)

    def test_envelope_holds_under_worst_case_value_concentration(
        self, spark, tmp_path
    ):
        """The sketch's adversarial distribution: 99% of mass inside
        ONE bin (plus outliers stretching the range so that bin is
        wide). The interpolated estimate may be far off in VALUE, but
        the reported rank_err must still respect |rank_err| <=
        bin_pop — the envelope is what makes the audit trustworthy
        exactly when the sketch is at its worst."""
        import datetime

        from mwa_uvdata_pipeline_spark.plans import load_all

        # 990 values at 10.00..10.98 cents-dense, one at 0, one at
        # 131072.00 — range/128 makes bin 0 hold everything below
        # ~1024.00, so the dense cluster + the 0 all share bin 0
        rows = [
            (i, datetime.datetime(2024, 1, 1), i, "click",
             10.0 + (i % 99) / 100.0, "{}")
            for i in range(990)
        ]
        rows.append((990, datetime.datetime(2024, 1, 1), 990, "click",
                     0.0, "{}"))
        rows.append((991, datetime.datetime(2024, 1, 1), 991, "click",
                     131072.0, "{}"))
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
        d = str(tmp_path / "skewed_values")
        df.write.parquet(f"{d}/events.parquet")
        out = load_all()["agg_quantile_sketch_error"].spark(spark, d).collect()
        assert len(out) == 3
        for r in out:
            assert abs(r["rank_err"]) <= r["bin_pop"], dict(r.asDict())
        # p50/p90 targets sit inside the overloaded bin: the envelope
        # is the bin's population (991), and the uniform-within-bin
        # assumption must actually be WRONG here — a large error is
        # the audit doing its job, so pin that it reports one
        p50 = next(r for r in out if r["q"] == 50)
        assert p50["bin_pop"] == 991
        assert abs(p50["rank_err"]) > 100, dict(p50.asDict())


class TestCalibrationBins:
    def test_matches_python_rederivation(self, spark):
        """ml_calibration_bins must equal a pure-Python re-walk of the
        shared train trajectory + 1%-bin reliability aggregation, and
        every bucket's observed/predicted pair must be internally
        consistent (0 <= n_pos <= n, gap = observed - predicted in
        truncated integer units)."""
        from mwa_uvdata_pipeline_spark.plans import load_all

        w, test, score = _logreg_python_eval_model(spark)

        bins: dict[int, list[int]] = {}
        for r in test:
            s = score(w, r["x1"], r["x2"])
            b = bins.setdefault(min(s // 10000, 99), [0, 0, 0])
            b[0] += 1
            b[1] += r["y"]
            b[2] += s
        want = {
            b: (n, pos, pos * 1000000 // n, ss // n,
                pos * 1000000 // n - ss // n)
            for b, (n, pos, ss) in bins.items()
        }

        got = {
            r["bucket"]: (
                r["n"],
                r["n_pos"],
                r["observed_ppm"],
                r["predicted_mean_micro"],
                r["gap_micro"],
            )
            for r in load_all()["ml_calibration_bins"]
            .spark(spark, SF_SMALL)
            .collect()
        }
        assert got == want
        for b, (n, pos, obs, pred, gap) in got.items():
            assert 0 <= pos <= n and gap == obs - pred, (b, got[b])


class TestStreamQuantileSketch:
    def test_state_is_bin_bounded_and_equals_batch_histogram(self, spark):
        """stream_value_histogram's complete-mode state must hold one
        row per OCCUPIED BIN (the sketch contract — never per event),
        and the drained sink must equal the batch fixed-width
        histogram bin-for-bin."""
        import uuid

        from mwa_uvdata_pipeline_spark.plans import load_events
        from mwa_uvdata_pipeline_spark.plans.events import _replay_fixture
        from mwa_uvdata_pipeline_spark.streaming.events import (
            run_to_memory,
            stream_value_histogram,
        )

        out = _replay_fixture(spark, SF_SMALL)
        sink = f"qsk_test_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(
            stream_value_histogram(spark, f"{out}/part*"),
            sink,
            output_mode="complete",
        )
        got = {
            r["bin"]: r["c"] for r in spark.sql(f"SELECT * FROM {sink}").collect()
        }
        want = {
            r["bin"]: r["c"]
            for r in load_events(spark, SF_SMALL)
            .selectExpr("CAST(ROUND(value * 100) AS BIGINT) div 100 AS bin")
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .collect()
        }
        assert got == want
        # state rows tracked by the aggregation operator == occupied
        # bins, not events (the probe-grade claim, read from progress)
        progresses = [p for p in q.recentProgress if p["stateOperators"]]
        assert progresses, "no state-operator progress recorded"
        last = progresses[-1]["stateOperators"][0]
        assert last["numRowsTotal"] == len(want), (
            last["numRowsTotal"],
            len(want),
        )


class TestWalshDecoderGuards:
    def test_rejects_stereo_payload(self, spark):
        """Walsh signs depend on the sample INDEX, so an interleaved
        stereo payload must be rejected, not silently folded over a
        channel-mixed index space."""
        import io
        import wave

        import numpy as np
        import pytest as _pytest

        from mwa_uvdata_pipeline_spark.operators.multimodal import (
            decode_wav_walsh,
        )

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                np.arange(64, dtype="<i2").tobytes()
            )
        df = spark.createDataFrame(
            [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
        )
        with _pytest.raises(Exception, match="only mono PCM"):
            decode_wav_walsh(df).collect()
