"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB at
sf0.01 (override with SELFCHECK_SF_DIR), comparing:
  - row count
  - sorted column names
  - order-insensitive value hash (rows sorted, columns sorted by name)

Usage: cd /root/repo && python tools/selfcheck.py [query ...]
       python tools/selfcheck.py --write    # full run + regenerate SELFCHECK.md

--write refuses query filters: the committed SELFCHECK.md must always be
the FULL registry, so the recorded count cannot trail len(_REGISTRY)
(the evidence-drift class the round-4/5 verdicts flagged).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the worker daemon (below) starts as `python -m vettore_spark.worker_daemon`
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _norm(v):
    """Strict driver-mimicking normalization: floats stay floats (repr
    distinguishes -0.0 from 0.0 — the round-1 hash_match trap) and ints stay
    ints (DuckDB HUGEINT surfacing as float64 through pandas must NOT be
    silently unified with Spark's int64)."""
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar from fetchdf
        v = v.item()
    if isinstance(v, float) and v != v:  # pandas NULL -> NaN
        return None
    if isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def main() -> int:
    sf_dir = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
    args = sys.argv[1:]
    write = "--write" in args
    only = set(a for a in args if a != "--write")
    if write and only:
        print("--write runs the FULL registry; drop the query filters")
        return 2
    lines: list[str] = []

    def emit(msg: str) -> None:
        print(msg, flush=True)
        lines.append(msg)

    # SELFCHECK_PARTITIONS: partition-count sweep knob. The r8 cogroup
    # key-type bug produced correct results at the gate's default
    # partitioning (AQE coalesced the mixed-key shuffle into one
    # partition) and silently emptied at higher counts — re-running the
    # FULL oracle gate at a hostile partitioning is the cheapest detector
    # for that whole class. `SELFCHECK_PARTITIONS=128 python
    # tools/selfcheck.py` must be as green as the default run.
    parts = os.environ.get("SELFCHECK_PARTITIONS", "8")
    # SELFCHECK_ENGINE_DEFAULTS=1: apply the library's session confs
    # (vettore_spark.session) so the oracle gate ALSO covers the planner
    # path every engine session actually runs. The default stays the
    # planner-conf-less driver-replica session — both paths must be green
    # — and takes only the engine's Python worker daemon, which changes
    # no plan or result, only the per-task worker start-up cost.
    from vettore_spark.session import ENGINE_SESSION_DEFAULTS

    daemon = "spark.python.daemon.module"
    builder = SparkSession.builder.config(daemon, ENGINE_SESSION_DEFAULTS[daemon])
    if os.environ.get("SELFCHECK_ENGINE_DEFAULTS"):
        from vettore_spark import with_engine_defaults

        builder = with_engine_defaults(builder)
    spark = (
        builder.master("local[8]")
        .appName("selfcheck")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.default.parallelism", parts)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            emit(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            emit(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            # pandas fetch on purpose: reproduces the driver's dtype
            # conversions (HUGEINT -> float64) that fetchall() would hide
            odf = rel.fetchdf()
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:
            emit(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"value hash {sh} != {oh}")
                # show first differing row for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted(tuple(_norm(r[i]) for i in so) for r in srows)
                oset = sorted(tuple(_norm(r[i]) for i in oo) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        problems.append(f"  first diff:\n   spark  {a}\n   duckdb {b}")
                        break
        if problems:
            emit(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            emit(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    ran = n_pass + n_fail
    summary = (
        f"{n_pass} pass, {n_fail} fail "
        f"(ran {ran} of {len(qs)} registered queries, "
        f"{len(oracles)} with SQL oracles)"
    )
    print("\n" + summary)
    if write:
        md = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SELFCHECK.md",
        )
        with open(md, "w") as f:
            f.write(
                "# SELFCHECK — local replica of the driver's correctness gate\n\n"
                "GENERATED by `python tools/selfcheck.py --write` — do not edit;\n"
                "regenerate as the LAST change of a round so the committed count\n"
                f"always equals the live registry. Run: sf dir `{sf_dir}`,\n"
                f"{len(qs)} registered queries, {len(oracles)} with SQL oracles\n"
                "(row count + sorted columns + order-insensitive value hash vs\n"
                "each query's DuckDB oracle).\n\n"
                "The per-line wall-time strings are INCIDENTAL (whatever the\n"
                "shared host was doing during the run) and are NOT comparable\n"
                "across regenerations — use the bench protocol records for\n"
                "timing claims; this file's signal is the PASS/FAIL column\n"
                "and the total (r14 ADVICE item).\n\n```\n"
                + "\n".join(lines)
                + f"\n\n{summary}\n```\n"
            )
        print(f"wrote {md}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
