"""The benchmark workloads. Each drives the package only through its
public functions, checks every response against an expected value
computed in :mod:`perfbench.inputs`, and — on a traced run — times the
layers from outside, at the calls into their modules.

A workload exposes:

- ``setup()``: make the seeded inputs (part of ``setup_s``);
- ``request(i, traced)``: one closed-loop request, returning its
  samples ``{"kind", "latency", "ok", "rows", "bytes", "traced"}`` and
  the seconds it spent inside the package (benchmark checks excluded);
- ``layer_metrics(groups)``: per-layer figures of the traced requests,
  given the event-log totals per job group;
- ``probe()``: extra requests a traced run sends after the measured
  ones, for layers the workload's own requests do not reach.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import harness, inputs
from perfbench.harness import job_group, median, timed

#: per-layer metric names every traced run reports (0 where the layer
#: is not on the workload's path); units and direction in BENCHMARK.json
LAYER_METRICS = (
    "session.start_s",
    "catalog.build_s",
    "validation.report_s",
    "validation.jobs",
    "sources.read_construct_s",
    "sources_fits.uvfits_decode_s",
    "sources_hdf5.uvh5_decode_s",
    "sources.decode_mb_per_s",
    "sinks.uvfits_write_s",
    "sinks.uvh5_write_s",
    "sinks.bytes_per_row",
    "sinks.export_p50_s",
    "sinks.export_tail_s",
    "mwab.scan_s",
    "mwab.scans_per_request",
    "mwab.useful_scan_ratio",
    "pipeline.construct_s",
    "pipeline.jobs_per_request",
    "operators.ss_read_s",
    "operators.ins_s",
    "operators.matchfilter_s",
    "operators.shuffle_mb",
    "plans.construct_s",
    "plans.execute_s",
    "plans.jobs_per_query",
    "plans.shuffle_mb_per_query",
    "plans.events.latency_p50_s",
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.wal_commit_ms",
    "streaming.query_planning_ms",
    "streaming.state_rows",
    "streaming.rows_dropped_by_watermark",
    "jvm.gc_s",
    "process.peak_rss_mb",
    "trace.jobs_per_request",
    "trace.stages_per_request",
    "trace.tracing_overhead_s",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(directory: str, suffix: str) -> int:
    return sum(
        os.path.getsize(os.path.join(directory, f))
        for f in os.listdir(directory)
        if f.endswith(suffix)
    )


class Workload:
    name = ""
    #: the kind of sample latency_p50_s / latency_tail_s summarise
    latency_kind = ""
    #: measured requests per run, whatever --seconds says
    min_requests = 1
    #: a run ends on a multiple of this many requests, so every run
    #: sends the same request mix
    request_block = 1
    #: untimed warm-up requests
    warmup = 1
    #: local-mode width of the session (capped at harness.CORES)
    cores = harness.CORES

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.spans: dict[str, list[float]] = {}
        self.traced_groups: list[dict[str, list[str]]] = []

    def span(self, name: str, seconds: float) -> None:
        self.spans.setdefault(name, []).append(seconds)

    def probe(self) -> list[dict]:
        return []


# ------------------------------------------------------------ obs_flagging


class ObsFlagging(Workload):
    """One request flags one observation of the MWAB archive: mwa_vis
    scan → ``pipeline.ssins_pipeline`` at reference defaults → per-pol
    occupancy report returned to the client."""

    name = "obs_flagging"
    latency_kind = "flag"
    # a request is ~14 s on 4 cores: two per run keeps a 22-run
    # regression check of each workload inside its time budget
    min_requests = 2

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from mwa_uvdata_pipeline_spark.mwab import (
            long_to_mwab_distributed,
            register_mwa_source,
        )

        harness.mark_package_shipped(self.spark)
        register_mwa_source(self.spark)
        self.specs = inputs.obs_specs(self.seed)
        self.expected, self.dirs, self.bytes = {}, {}, {}

        def pack(i: int, spec: dict) -> None:
            obsid = spec["obsid"]
            re, im = inputs.obs_cube(self.seed, i, spec)
            self.expected[obsid] = inputs.ssins_reference(re, im)
            # long-format rows reach the packer as a parquet scan
            src = inputs.write_parquet(
                inputs.obs_frame(spec, re, im),
                os.path.join(self.work, "long", f"obs_{obsid}.parquet"),
            )
            long = self.spark.read.parquet(src).select(
                "obsid", "time_idx", "time_jd", "ant1", "ant2", "chan", "freq_hz",
                "pol", F.struct("re", "im").alias("vis"), "flag", "nsample",
            )
            d = os.path.join(self.work, "archive", f"obs_{obsid}")
            long_to_mwab_distributed(long, d).collect()
            self.dirs[obsid] = d
            self.bytes[obsid] = _dir_bytes(d, ".mwab")

        # one packer job chain per observation, run concurrently: the
        # packer's small metadata jobs leave most cores idle
        with ThreadPoolExecutor(len(self.specs)) as pool:
            for f in [pool.submit(pack, i, s) for i, s in enumerate(self.specs)]:
                f.result()
        self.cells = inputs.OBS_T * len(inputs.baselines(inputs.OBS_ANTS)) * inputs.OBS_C * len(inputs.OBS_POLS)
        rng = np.random.default_rng([self.seed, 10])
        self.order = [self.specs[k]["obsid"] for k in rng.permutation(len(self.specs))]

    def _scan(self, obsid: int):
        return (
            self.spark.read.format("mwa_vis")
            .option("path", os.path.join(self.dirs[obsid], "part-*.mwab"))
            .load()
        )

    def _report(self, mf):
        from pyspark.sql import functions as F

        return mf.groupBy("pol").agg(
            F.count(F.lit(1)).alias("n_cells"),
            *(
                F.sum(F.col(c).cast("int")).alias(c)
                for c in ("narrow_flag", "streak_flag", "tb_flag", "mf_flag")
            ),
        )

    def _check(self, obsid: int, rows) -> bool:
        got = {r["pol"]: tuple(int(v) for v in r[1:]) for r in rows}
        return got == self.expected[obsid]

    def request(self, i: int, traced: bool) -> tuple[list[dict], float]:
        from mwa_uvdata_pipeline_spark.pipeline import (
            PipelineConfig,
            ss_read,
            ssins_pipeline,
        )
        from mwa_uvdata_pipeline_spark.operators.ins import incoherent_noise_spectrum

        obsid = self.order[i % len(self.order)]
        t0 = time.perf_counter()
        if traced:
            # prefix runs to the noop sink give each layer's self time
            # as the difference between consecutive prefixes
            cfg = PipelineConfig()
            _, scan = timed(_noop, self._scan(obsid))
            _, p1 = timed(_noop, ss_read(self._scan(obsid), cfg.read, cfg.select))
            ins = incoherent_noise_spectrum(
                ss_read(self._scan(obsid), cfg.read, cfg.select),
                spectrum_type=cfg.select.spectrum_type,
            )
            _, p2 = timed(_noop, ins)
            g = {"construct": f"t{i}.construct", "chain": f"t{i}.chain"}
            t0 = time.perf_counter()
            vis = self._scan(obsid)
            with job_group(self.spark, g["construct"]):
                mf, construct = timed(ssins_pipeline, vis)
            with job_group(self.spark, g["chain"]):
                rows, chain = timed(lambda: self._report(mf).collect())
            self.span("mwab.scan_s", scan)
            self.span("pipeline.construct_s", construct)
            self.span("operators.ss_read_s", p1 - scan)
            self.span("operators.ins_s", p2 - p1)
            self.span("operators.matchfilter_s", chain - p2)
            self.traced_groups.append({"request": list(g.values()), "chain": [g["chain"]]})
        else:
            rows = self._report(ssins_pipeline(self._scan(obsid))).collect()
        latency = time.perf_counter() - t0
        sample = {
            "kind": "flag", "latency": latency, "ok": self._check(obsid, rows),
            "rows": self.cells, "bytes": self.bytes[obsid], "traced": traced,
        }
        return [sample], latency

    def layer_metrics(self, groups) -> dict[str, float]:
        per_req = [harness.sum_groups(groups, g["request"]) for g in self.traced_groups]
        chain = [harness.sum_groups(groups, g["chain"]) for g in self.traced_groups]
        scans = median([r["input_records"] / self.cells for r in per_req])
        return {
            "mwab.scans_per_request": scans,
            "mwab.useful_scan_ratio": 1.0 / scans if scans else 0.0,
            "pipeline.jobs_per_request": median([r["jobs"] for r in per_req]),
            "operators.shuffle_mb": median([c["shuffle_bytes"] / 1e6 for c in chain]),
            "trace.jobs_per_request": median([r["jobs"] for r in per_req]),
            "trace.stages_per_request": median([r["stages"] for r in per_req]),
        }


# -------------------------------------------------------- format_roundtrip


class FormatRoundtrip(Workload):
    """Native file sets, about three ingests to one export. An ingest is
    catalog → validation → ``sources.read_visibilities`` → per-(chan,
    pol) summary (the CLI's ``ingest --summary``); an export writes one
    observation through ``sinks.write_uvfits_grouped`` or
    ``sinks.write_uvh5_grouped``."""

    name = "format_roundtrip"
    latency_kind = "ingest"
    # whole pairs of plan blocks (3 uvfits + 3 uvh5 ingests and one
    # export of each per pair); three pairs, 18 ingests, a run
    min_requests = 24
    request_block = 8
    # a fixed warm-up of one block: the first request is cold (~10 s),
    # the second ~2 s, then within ~20% of the measured ones. A count,
    # not "until two requests agree": mixed request kinds made that
    # rule end warm-up at a different point of the JIT's slope in
    # every run, and the runs' medians spread with it
    warmup = 4
    # each observation is two files, so reads run two tasks: wider
    # sessions only added idle slots and per-task overhead, and at 4
    # cores requests were ~10% slower and drifted down for 20+ requests
    cores = 2

    def setup(self) -> None:
        self.obs = inputs.write_native_files(self.seed, os.path.join(self.work, "native"))
        self.ingests = [o for o in self.obs if o["kind"] == "ingest"]
        self.exports = [o for o in self.obs if o["kind"] == "export"]
        # blocks of four — three ingests, one export — with the same
        # format mix in every pair of blocks, so runs of any seed do the
        # same work; the seed picks observations and order
        rng = np.random.default_rng([self.seed, 11])
        by_fmt = {f: [o for o in self.ingests if o["format"] == f] for f in ("uvfits", "uvh5")}
        self.plan = []
        for k in range(64):
            major, minor = ("uvfits", "uvh5") if k % 2 == 0 else ("uvh5", "uvfits")
            block = [
                ("ingest", by_fmt[f][int(rng.integers(len(by_fmt[f])))])
                for f in (major, minor, major)
            ]
            block.append(("export_" + minor, self.exports[int(rng.integers(len(self.exports)))]))
            self.plan.extend(block[j] for j in rng.permutation(4))

    def _summary(self, df):
        from pyspark.sql import functions as F

        return (
            df.groupBy("chan", "pol")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("flag").cast("int")).alias("n_flag"),
                F.sum("re").alias("s_re"),
                F.sum("im").alias("s_im"),
            )
            .orderBy("chan", "pol")
        )

    def _ingest(self, i: int, o: dict, traced: bool) -> dict:
        from mwa_uvdata_pipeline_spark.catalog import catalog_from_paths
        from mwa_uvdata_pipeline_spark.sources import read_visibilities
        from mwa_uvdata_pipeline_spark.validation import assert_valid, validation_report

        spark = self.spark
        if traced:
            # decode prefix: the reader's output to the noop sink
            decode_df = read_visibilities(spark, o["paths"])
            _, decode = timed(_noop, decode_df)
            key = "sources_fits.uvfits_decode_s" if o["format"] == "uvfits" else "sources_hdf5.uvh5_decode_s"
            self.span(key, decode)
            self.span("sources.decode_mb_per_s", o["bytes"] / 1e6 / decode)
        t0 = time.perf_counter()
        with job_group(spark, f"t{i}.catalog"):
            cat, t_cat = timed(catalog_from_paths, spark, o["paths"])
        with job_group(spark, f"t{i}.validation"):
            _, t_val = timed(lambda: assert_valid(validation_report(spark, cat)))
        df, t_read = timed(read_visibilities, spark, o["paths"])
        with job_group(spark, f"t{i}.summary"):
            rows = self._summary(df).collect()
        latency = time.perf_counter() - t0
        if traced:
            self.span("catalog.build_s", t_cat)
            self.span("validation.report_s", t_val)
            self.span("sources.read_construct_s", t_read)
            self.traced_groups.append(
                {"request": [f"t{i}.catalog", f"t{i}.validation", f"t{i}.summary"],
                 "validation": [f"t{i}.validation"]}
            )
        got = {
            (int(r["chan"]), str(r["pol"])): (int(r["n"]), int(r["n_flag"]), float(r["s_re"]), float(r["s_im"]))
            for r in rows
        }
        return {"kind": "ingest", "latency": latency, "ok": got == o["expected"],
                "rows": o["rows"], "bytes": o["bytes"], "traced": traced}

    def _export(self, i: int, o: dict, fmt: str, traced: bool) -> dict:
        from mwa_uvdata_pipeline_spark.sinks import write_uvfits_grouped, write_uvh5_grouped

        writer = write_uvfits_grouped if fmt == "uvfits" else write_uvh5_grouped
        out = os.path.join(self.work, "export", str(i))
        t0 = time.perf_counter()
        with job_group(self.spark, f"t{i}.export"):
            manifest = writer(self.spark.read.parquet(o["paths"][0]), out).collect()
        latency = time.perf_counter() - t0
        ok = len(manifest) == 1 and manifest[0]["n_rows"] == o["rows"]
        written = 0
        if ok:
            path, written = manifest[0]["path"], int(manifest[0]["n_bytes"])
            ok = os.path.getsize(path) == written
            n_bl = len(inputs.baselines(inputs.RT_ANTS))
            if ok and fmt == "uvfits":
                ok = inputs.uvfits_sums(path) == (inputs.RT_T * n_bl, *o["expected"])
            elif ok:
                # the visdata (c16) + flags (i1) + nsamples (f8) payload
                ok = written >= o["rows"] * (16 + 1 + 8)
        shutil.rmtree(out, ignore_errors=True)
        if traced:
            self.span(f"sinks.{fmt}_write_s", latency)
            self.span("sinks.bytes_per_row", written / o["rows"])
        return {"kind": "export", "latency": latency, "ok": ok, "rows": o["rows"],
                "bytes": os.path.getsize(o["paths"][0]) + written, "traced": traced}

    def request(self, i: int, traced: bool) -> tuple[list[dict], float]:
        op, o = self.plan[i % len(self.plan)]
        if op == "ingest":
            sample = self._ingest(i, o, traced)
        else:
            sample = self._export(i, o, op.split("_", 1)[1], traced)
        return [sample], sample["latency"]

    def probe(self) -> list[dict]:
        """The ``plans`` and ``streaming`` layers, which neither listed
        workload reaches, measured on this workload's traced runs."""
        self.events = EventsProbe(self)
        return self.events.run()

    def layer_metrics(self, groups) -> dict[str, float]:
        reqs = [g for g in self.traced_groups if "validation" in g]
        per_req = [harness.sum_groups(groups, g["request"]) for g in reqs]
        out = {
            "validation.jobs": median([harness.sum_groups(groups, g["validation"])["jobs"] for g in reqs]),
            "trace.jobs_per_request": median([r["jobs"] for r in per_req]),
            "trace.stages_per_request": median([r["stages"] for r in per_req]),
        }
        if hasattr(self, "events"):
            out.update(self.events.layer_metrics(groups))
        return out


# ------------------------------------------------ plans and streaming


class _ProgressLog:
    """StreamingQueryListener collecting every progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list = []
        self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                with log.lock:
                    log.events.append(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def since(self, start: int) -> list:
        with self.lock:
            return list(self.events[start:])

    def __len__(self) -> int:
        with self.lock:
            return len(self.events)


class EventsProbe:
    """The ``plans`` and ``streaming`` layers on a seeded events table
    shaped like the shared sf0.1 one. Each events-family entry of the
    registry's bench roster runs twice (the first run warms codegen;
    the second is measured) with its result checked against DuckDB
    running the entry's registered SQL twin; then the table, replayed
    into ``EV_SLICES`` time slices by ``streaming.events.replay_events``,
    is drained twice with ``Trigger.AvailableNow`` through a stateless
    query (checkpointed parquet sink) and a stateful one (hourly
    tumbling counts with a watermark), the second drain measured from
    ``StreamingQueryProgress``."""

    def __init__(self, wl: Workload) -> None:
        self.wl = wl
        self.spark = wl.spark
        self.dir = os.path.join(wl.work, "events_sf")
        self.query_groups: list[str] = []

    def run(self) -> list[dict]:
        from mwa_uvdata_pipeline_spark.plans import load_all

        pdf = inputs.write_events(self.wl.seed, os.path.join(self.dir, "events.parquet"))
        plans = {
            n: p for n, p in load_all().items()
            if p.bench and p.sql and p.spark.__module__ == f"{harness.PACKAGE}.plans.events"
        }
        expected = inputs.duckdb_expected(
            os.path.join(self.dir, "events.parquet"),
            {n: p.sql for n, p in plans.items()},
            os.path.join(self.wl.work, "duckdb"),
        )
        samples = [
            self._query(plans[name], expected[name], measured)
            for name in sorted(plans)
            for measured in (False, True)
        ]
        return samples + self._stream(pdf)

    def _query(self, plan, expected, measured: bool) -> dict:
        group = f"q.{plan.name}.{int(measured)}"
        t0 = time.perf_counter()
        with job_group(self.spark, group):
            df, construct = timed(plan.spark, self.spark, self.dir)
            got, execute = timed(df.toPandas)
        latency = time.perf_counter() - t0
        if measured:
            self.wl.span("plans.construct_s", construct)
            self.wl.span("plans.execute_s", execute)
            self.wl.span("plans.events.latency_p50_s", latency)
            self.query_groups.append(group)
        return {"kind": "query", "latency": latency, "ok": inputs.canonical_rows(got) == expected,
                "rows": inputs.EV_ROWS, "bytes": 0, "traced": True}

    def _stream(self, pdf) -> list[dict]:
        from mwa_uvdata_pipeline_spark.plans import load_events
        from mwa_uvdata_pipeline_spark.streaming.events import replay_events

        replay = os.path.join(self.wl.work, "replay")
        replay_events(load_events(self.spark, self.dir), replay, n_files=inputs.EV_SLICES)
        self.glob = os.path.join(replay, "part*")
        self.n_events = len(pdf)
        self.expected_cents = int(inputs.cents(pdf["value"]).sum())
        self.expected_windows = inputs.tumbling_reference(pdf)
        self.progress = _ProgressLog(self.spark)
        samples: list[dict] = []
        for measured in (False, True):
            samples += self._drain(measured)
        return samples

    def _wait_progress(self, start: int, n: int, timeout: float = 10.0) -> list:
        """Progress events reach the listener asynchronously."""
        deadline = time.perf_counter() + timeout
        while True:
            events = self.progress.since(start)
            with_rows = sum(1 for p in events if p.numInputRows > 0)
            if with_rows >= n or time.perf_counter() > deadline:
                return events
            time.sleep(0.05)

    def _drain(self, measured: bool) -> list[dict]:
        import pyarrow.parquet as pq

        from mwa_uvdata_pipeline_spark.streaming.events import (
            run_to_memory,
            stream_append_to_parquet,
            stream_tumbling_counts,
        )

        out = os.path.join(self.wl.work, "drain", str(int(measured)))
        start = len(self.progress)
        sink = os.path.join(out, "sink")
        name = f"tumbling_{int(measured)}"
        stream_append_to_parquet(self.spark, self.glob, sink, os.path.join(out, "ckpt"))
        run_to_memory(stream_tumbling_counts(self.spark, self.glob), name, output_mode="complete")
        events = [p for p in self._wait_progress(start, 2 * inputs.EV_SLICES) if p.numInputRows > 0]

        files = [os.path.join(sink, f) for f in os.listdir(sink) if f.endswith(".parquet")]
        table = pq.ParquetDataset(files).read(columns=["cents"]) if files else None
        ok_stateless = table is not None and table.num_rows == self.n_events and (
            int(table.column("cents").to_numpy().sum()) == self.expected_cents
        )
        got = {
            (int(r["w"]), str(r["event_type"])): (int(r["n"]), int(r["c"]))
            for r in self.spark.sql(
                f"SELECT unix_micros(win_start) AS w, event_type, n, "
                f"CAST(ROUND(sum_value * 100) AS BIGINT) AS c FROM {name}"
            ).collect()
        }
        ok = ok_stateless and got == self.expected_windows
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(out, ignore_errors=True)

        samples = []
        for p in events:
            d = p.durationMs
            if measured:
                self.wl.span("streaming.trigger_ms", float(d.get("triggerExecution", 0)))
                self.wl.span("streaming.add_batch_ms", float(d.get("addBatch", 0)))
                self.wl.span("streaming.wal_commit_ms", float(d.get("walCommit", 0)))
                self.wl.span("streaming.query_planning_ms", float(d.get("queryPlanning", 0)))
                for s in p.stateOperators:
                    self.wl.span("streaming.state_rows", float(s.numRowsTotal))
                    self.wl.span("streaming.rows_dropped_by_watermark", float(s.numRowsDroppedByWatermark))
            samples.append({"kind": "batch", "latency": d.get("triggerExecution", 0) / 1e3, "ok": ok,
                            "rows": int(p.numInputRows), "bytes": 0, "traced": True})
        if len(samples) != 2 * inputs.EV_SLICES:
            samples.append({"kind": "batch", "latency": 0.0, "ok": False, "rows": 0, "bytes": 0,
                            "traced": True})
        return samples

    def layer_metrics(self, groups) -> dict[str, float]:
        per_query = [groups.get(g, {"jobs": 0, "shuffle_bytes": 0}) for g in self.query_groups]
        spans = self.wl.spans
        return {
            "plans.jobs_per_query": median([q["jobs"] for q in per_query]),
            "plans.shuffle_mb_per_query": median([q["shuffle_bytes"] / 1e6 for q in per_query]),
            "streaming.state_rows": max(spans.get("streaming.state_rows", [0.0])),
            "streaming.rows_dropped_by_watermark": sum(
                spans.get("streaming.rows_dropped_by_watermark", [0.0])
            ),
        }


WORKLOADS = {w.name: w for w in (ObsFlagging, FormatRoundtrip)}
