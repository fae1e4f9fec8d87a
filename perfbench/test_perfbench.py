"""The benchmark's own tests: input determinism, the engine-independent
references, failure counting, and a smoke run per listed workload that
must emit every metric BENCHMARK.json declares.

    python3 -m pytest perfbench -q            # everything (~6 min: Spark runs)
    python3 -m pytest perfbench -q -m "not spark"   # numpy-only checks
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- inputs


def test_obs_inputs_depend_only_on_seed():
    a = [inputs.obs_cube(7, i, s) for i, s in enumerate(inputs.obs_specs(7))]
    b = [inputs.obs_cube(7, i, s) for i, s in enumerate(inputs.obs_specs(7))]
    c = [inputs.obs_cube(8, i, s) for i, s in enumerate(inputs.obs_specs(8))]
    assert inputs.obs_specs(7) == inputs.obs_specs(7)
    assert all(np.array_equal(x[0], y[0]) and np.array_equal(x[1], y[1]) for x, y in zip(a, b))
    assert not np.array_equal(a[0][0], c[0][0])


def test_native_files_depend_only_on_seed(tmp_path):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        obs = inputs.write_native_files(seed, str(tmp_path / tag))
        runs[tag] = _digest(p for o in obs for p in o["paths"])
    assert runs["a"] == runs["b"]
    assert runs["a"] != runs["c"]


def test_events_depend_only_on_seed():
    a, b, c = inputs.events_frame(7), inputs.events_frame(7), inputs.events_frame(8)
    assert a.equals(b)
    assert not a.equals(c)


def test_every_seed_has_bursty_and_clean_observations():
    for seed in range(50):
        bursts = [s["burst"] for s in inputs.obs_specs(seed)]
        assert any(bursts) and not all(bursts)


def test_reference_flags_bursts_and_leaves_clean_obs_clean():
    """Closed-form property of the generated archive: a burst
    integration differences into a +A and a -A step at the burst
    channel, so bursty observations get at least those two narrow-band
    flags per pol; clean ones get none, but for the rare noise cell a
    median/MAD over 17 usable steps lets through."""
    clean = clean_flagged = 0
    for seed in range(40):
        for i, spec in enumerate(inputs.obs_specs(seed)):
            re, im = inputs.obs_cube(seed, i, spec)
            for n_cells, n_narrow, n_streak, _n_tb, _n_mf in inputs.ssins_reference(re, im).values():
                assert n_cells == (inputs.OBS_T - 1) * inputs.OBS_C
                if spec["burst"] is None:
                    assert n_streak == 0
                    clean += 1
                    clean_flagged += n_narrow > 0
                    assert n_narrow <= 2, (seed, i)
                else:
                    assert n_narrow >= 2, (seed, i)
    assert clean_flagged <= 0.1 * clean


def test_duckdb_twin_matches_the_pandas_windows(tmp_path):
    """The DuckDB side of the events oracle agrees with an independent
    pandas aggregate on the generated table (hourly tumbling windows)."""
    path = str(tmp_path / "events.parquet")
    pdf = inputs.write_events(4, path)
    sql = """SELECT epoch_us(date_trunc('hour', ts)) AS w, event_type AS t, COUNT(*) AS n,
                    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
             FROM events GROUP BY 1, 2"""
    got = inputs.duckdb_expected(path, {"w": sql}, str(tmp_path / "duck"))["w"]
    ref = inputs.tumbling_reference(pdf)
    assert len(ref) > 1000
    assert got == sorted((str(c), str(n), t, str(w)) for (w, t), (n, c) in ref.items())


def test_worker_shipping_marker_matches_the_package(monkeypatch):
    """Sessions built by the benchmark are marked as shipped (workers
    import the package from PYTHONPATH instead of a zip under /tmp);
    ``session.ship_package`` must still honour that marker."""
    import zipfile

    from perfbench import harness
    from mwa_uvdata_pipeline_spark import session

    def refuse(*_a, **_k):
        raise AssertionError("ship_package ignored the marker and zipped the package")

    monkeypatch.setattr(zipfile, "ZipFile", refuse)
    fake = type("Session", (), {})()
    harness.mark_package_shipped(fake)
    session.ship_package(fake)


def test_uvfits_decoder_matches_the_generated_sums(tmp_path):
    obs = inputs.write_native_files(3, str(tmp_path))
    for o in obs:
        if o["kind"] != "ingest" or o["format"] != "uvfits":
            continue
        groups = re_sum = im_sum = 0
        for p in o["paths"]:
            g, r, i = inputs.uvfits_sums(p)
            groups, re_sum, im_sum = groups + g, re_sum + r, im_sum + i
        exp = o["expected"]
        assert groups == inputs.RT_T * len(inputs.baselines(inputs.RT_ANTS))
        assert re_sum == sum(v[2] for v in exp.values())
        assert im_sum == sum(v[3] for v in exp.values())


# ---------------------------------------------------------------- Spark


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.spark
def test_corrupted_expected_value_counts_as_a_failed_request():
    """Real session, real requests: one ingest observation's expected
    summary is corrupted, and exactly the requests on it fail."""
    sys.path.insert(0, ROOT)
    import perfbench.run as run
    from perfbench import harness
    from perfbench.workloads import FormatRoundtrip

    saved_env = dict(os.environ)
    work = os.path.join(ROOT, ".perfbench_work", f"test-{os.getpid()}")
    harness.configure_env(ROOT, work, False)
    spark = harness.start_session(FormatRoundtrip.cores)
    try:
        wl = FormatRoundtrip(spark, work, 5)
        wl.setup()
        bad = next(o for op, o in wl.plan if op == "ingest")
        key = next(iter(bad["expected"]))
        n, n_flag, s_re, s_im = bad["expected"][key]
        bad["expected"][key] = (n, n_flag, s_re + 1.0, s_im)
        samples, _busy = run.measure(wl, 0, 0.0, False)
        while len(samples) < 8:
            more, _ = run.measure(wl, len(samples), 0.0, False)
            samples += more
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved_env)
    on_bad = [wl.plan[i][1] is bad for i in range(len(samples))]
    failed = [not s["ok"] for s in samples]
    assert any(failed)
    assert failed == on_bad


@pytest.mark.spark
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_declared_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "0", "--trace", str(trace)])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(["--workload", "obs_flagging", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
