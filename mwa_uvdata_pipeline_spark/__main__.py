"""Command-line entry point: list and run registry queries.

The reference declares a console script (its pyproject.toml:19-20 —
the target ``main`` doesn't exist there; this implements the surface
it promises). Usage:

    python -m mwa_uvdata_pipeline_spark list [substring]
    python -m mwa_uvdata_pipeline_spark run <entry> [--sf-dir DIR]
        [--limit N] [--explain]
    python -m mwa_uvdata_pipeline_spark ingest <file>... [--summary]

``ingest`` reads visibility files through the multi-format registry
(``sources.READERS``: parquet, uvfits/uvf, gpubox ``.fits``, metafits
and uvh5, dispatched by extension — the reference's read loop,
processors.py:47-76, as one registry call) and prints rows, or a
per-(chan, pol) summary with ``--summary``. MWAB archives are not
ingest files: they are read through the ``mwa_vis`` Spark data source
(``mwab.register_mwa_source``).

``run`` prints the result as tab-separated rows (the reference's TSV
convention); ``--explain`` prints the formatted physical plan instead
of executing.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mwa_uvdata_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_list = sub.add_parser("list", help="list registry entries")
    p_list.add_argument("filter", nargs="?", default="")
    p_run = sub.add_parser("run", help="run one entry")
    p_run.add_argument("entry")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")
    p_ing = sub.add_parser("ingest", help="read visibility files")
    p_ing.add_argument("files", nargs="+")
    p_ing.add_argument("--summary", action="store_true")
    p_ing.add_argument("--limit", type=int, default=20)
    args = ap.parse_args(argv)

    from mwa_uvdata_pipeline_spark.plans import load_all

    plans = load_all()

    if args.cmd == "list":
        for name, p in sorted(plans.items()):
            if args.filter in name:
                doc = (p.doc or "").split(". ")[0][:70]
                print(f"{name}\t{doc}")
        return 0

    if args.cmd == "ingest":
        from mwa_uvdata_pipeline_spark.session import get_spark
        from mwa_uvdata_pipeline_spark.sources import read_visibilities

        spark = get_spark("cli")
        df = read_visibilities(spark, args.files)
        if args.summary:
            from pyspark.sql import functions as F

            df = (
                df.groupBy("chan", "pol")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("flag").cast("int")).alias("n_flag"),
                )
                .orderBy("chan", "pol")
            )
        rows = df.limit(args.limit).collect()
        print("\t".join(df.columns))
        for r in rows:
            print("\t".join(str(v) for v in r))
        _print_residues()
        return 0

    if args.entry not in plans:
        print(f"unknown entry {args.entry!r}; try: list", file=sys.stderr)
        return 2

    from mwa_uvdata_pipeline_spark.session import get_spark

    spark = get_spark("cli")
    df = plans[args.entry].spark(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        # plan CONSTRUCTION already ran the table loaders, which can
        # leave session-conf residues — surface them here too
        _print_residues()
        return 0
    rows = df.limit(args.limit).collect()
    print("\t".join(df.columns))
    for r in rows:
        print("\t".join(str(v) for v in r))
    _print_residues()
    return 0


def _print_residues() -> None:
    """After execution, surface any session confs a table loader had
    to leave set (e.g. parquet nanos-as-long), so the behavior change
    is visible at the CLI instead of only in tools/plan_report.py."""
    from mwa_uvdata_pipeline_spark.plans import session_conf_residues

    for conf, reason in sorted(session_conf_residues().items()):
        print(f"# session conf residue: {conf} — {reason}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(main())
