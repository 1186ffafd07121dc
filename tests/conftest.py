from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Keep local test runs lightweight; the bench sizes up via env.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# ---------------------------------------------------------------------------
# Built-in file-level sharding (round 15, VERDICT r14 #1).
#
# The full suite is ~880 tests / ~48 min SERIAL on a quiet box, and the
# driver's verify budget truncated the r14 run at 41%. The wall time is
# latency-bound, not CPU-bound (one Spark job at a time, per-job
# scheduling + streaming-startup latency dominates; executor CPU sits
# ~85% idle), so the standard fix is process parallelism. pytest-xdist
# is not installed in this container, so this conftest implements the
# minimal equivalent: when pytest targets the whole tests/ directory,
# the run is split BY FILE across worker subprocesses (each worker gets
# its own SparkSession + DuckDB, exactly as a serial run of that file
# would), outputs stream through, and the parent's exit code is the
# workers' logical AND. Coverage is untouched — every test still runs,
# in the same per-file order, under the same fixtures.
#
# Escape hatches: SGRAFT_TEST_WORKERS=1 forces the plain serial loop;
# targeted invocations (specific files, node ids, -k/-m/--collect-only
# etc.) always take the normal path. Workers are plain `python -m
# pytest <files>` subprocesses and recursion is cut by an env marker.
# ---------------------------------------------------------------------------

_SHARD_ENV_WORKER = "SGRAFT_TEST_SHARD_WORKER"

# Measured per-file test seconds (a full 2-shard run of the whole
# suite on a 4-core box, each shard under the other's load) used ONLY
# as LPT bin-packing weights so one shard doesn't inherit all the heavy
# files; an unlisted file defaults to its size proxy. Stale weights
# degrade balance, never correctness.
_FILE_WEIGHTS = {
    "test_delta_log.py": 461,
    "test_retired_queries.py": 387,
    "test_oracle.py": 312,
    "test_driver_parity.py": 206,
    "test_delta_stream.py": 137,
    "test_plan_shapes.py": 130,
    "test_properties.py": 113,
    "test_new_ops_r8.py": 87,
    "test_cdf.py": 63,
    "test_pipelines.py": 55,
    "test_search_rolling_linreg.py": 48,
    "test_stats_similarity.py": 35,
    "test_new_ops_r5.py": 30,
    "test_dv_scale.py": 26,
    "test_operators.py": 25,
    "test_versioned.py": 25,
    "test_sdp.py": 22,
    "test_row_tracking.py": 22,
    "test_streaming.py": 21,
    "test_corpus.py": 21,
    "test_identity.py": 20,
    "test_index_delete.py": 20,
    "test_bpe.py": 19,
    "test_new_ops_r4.py": 17,
    "test_end_to_end_pipeline.py": 16,
    "test_expectations_scd.py": 15,
    "test_clustering.py": 11,
    "test_curation.py": 11,
    "test_rollups.py": 11,
}


def _shardable_invocation(config) -> list[str] | None:
    """The sorted test files of a whole-directory run, or None when the
    invocation is targeted (specific files/nodes, -k/-m, collect-only,
    pdb, ...) and must take the plain serial path."""
    if os.environ.get(_SHARD_ENV_WORKER):
        return None
    workers_env = os.environ.get("SGRAFT_TEST_WORKERS", "auto")
    if workers_env in ("0", "1"):
        return None
    opt = config.option
    if (
        getattr(opt, "collectonly", False)
        or getattr(opt, "keyword", "")
        or getattr(opt, "markexpr", "")
        or getattr(opt, "usepdb", False)
        or getattr(opt, "numprocesses", None)
    ):
        return None
    tests_dir = Path(__file__).resolve().parent
    args = [a for a in config.args if not a.startswith("-")]
    for a in args:
        p = Path(a).resolve()
        if p != tests_dir and p != tests_dir.parent:
            return None
    files = sorted(f.name for f in tests_dir.glob("test_*.py"))
    return files if len(files) > 1 else None


def _make_shards(files: list[str], n: int) -> list[list[str]]:
    """Longest-processing-time bin packing over the measured weights."""
    sized = sorted(
        files,
        key=lambda f: -(_FILE_WEIGHTS.get(f, max(1, (Path(__file__).parent / f).stat().st_size // 1500))),
    )
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sized:
        w = _FILE_WEIGHTS.get(
            f, max(1, (Path(__file__).parent / f).stat().st_size // 1500)
        )
        i = min(range(n), key=lambda j: shards[j][0])
        shards[i] = (shards[i][0] + w, shards[i][1] + [f])
    return [s[1] for s in shards if s[1]]


def pytest_cmdline_main(config):
    """Orchestrate the sharded run; return None to fall through to the
    normal pytest main for every non-shardable invocation."""
    files = _shardable_invocation(config)
    if files is None:
        return None
    import re
    import subprocess
    import time as _time

    n_env = os.environ.get("SGRAFT_TEST_WORKERS", "auto")
    # 4 workers on 32 cores: 6 saturated the box enough that Python
    # workers missed the JVM's hardcoded 10 s connect-back window
    # (streaming data-source planner processes are spawn-per-query).
    n = min(4, max(2, (os.cpu_count() or 8) // 8)) if n_env == "auto" else int(n_env)
    shards = _make_shards(files, n)
    tests_dir = Path(__file__).resolve().parent
    exit_x = bool(getattr(config.option, "exitfirst", False) or config.getoption("maxfail", 0) == 1)
    # every option with its value, minus the positional test paths
    # the shards replace with their own file lists
    passthrough = [
        a for a in config.invocation_params.args if a not in config.args
    ]
    import tempfile

    t0 = _time.time()
    procs = []
    outs: list[str] = []
    wh_root = tempfile.mkdtemp(prefix="sgraft_shard_wh_")
    for i, shard in enumerate(shards):
        env = dict(os.environ)
        env[_SHARD_ENV_WORKER] = "1"
        # isolated warehouse per worker: bucketed saveAsTable fixtures
        # in different shards would otherwise race on the shared
        # ./spark-warehouse table directories
        env["SPARK_GRAFT_WAREHOUSE_DIR"] = f"{wh_root}/w{i}"
        cmd = [
            sys.executable, "-m", "pytest",
            *passthrough,
            *[str(tests_dir / f) for f in shard],
        ]
        procs.append(
            subprocess.Popen(
                cmd, env=env, cwd=str(tests_dir.parent),
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True,
            )
        )
        print(f"[shard {i}] {len(shard)} files: {' '.join(shard)}", flush=True)
        # stagger JVM startups so simultaneous session builds don't
        # stampede the fork/connect path
        if i + 1 < len(shards):
            _time.sleep(3)
    rc = 0
    stats: dict[str, int] = {}
    for i, p in enumerate(procs):
        out, _ = p.communicate()
        outs.append(out)
        if p.returncode != 0:
            rc = rc or (p.returncode if p.returncode > 0 else 1)
            if exit_x:
                for q in procs:
                    if q.poll() is None:
                        q.terminate()
        tail = out.strip().splitlines()[-1] if out.strip() else ""
        print(f"[shard {i}] rc={p.returncode} {tail}", flush=True)
        for m in re.finditer(r"(\d+) (passed|failed|skipped|error|errors|deselected|xfailed|xpassed)", out):
            key = m.group(2).rstrip("s") if m.group(2).startswith("error") else m.group(2)
            stats[key] = stats.get(key, 0) + int(m.group(1))
    if rc != 0:
        # full output of failing shards, so failures read like a normal run
        for i, (p, out) in enumerate(zip(procs, outs)):
            if p.returncode != 0:
                sys.stdout.write(f"\n===== shard {i} output (rc={p.returncode}) =====\n")
                sys.stdout.write(out)
    dt = _time.time() - t0
    parts = ", ".join(f"{v} {k}" for k, v in sorted(stats.items())) or "no tests ran"
    line = f" {parts} in {dt:.2f}s ({len(shards)} shards) "
    print("=" * max(0, (80 - len(line)) // 2) + line + "=" * max(0, (80 - len(line)) // 2), flush=True)
    return rc

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from etl_deltalake_spark.session import get_spark

    spark = get_spark("etl-deltalake-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(params=["local", "spark"])
def graph_path(request, monkeypatch):
    """Run a connected-components test on both paths of
    ``operators.dedup``: the driver-local kernel (the default at test
    sizes) and the Spark rounds (local bound forced to 0)."""
    if request.param == "spark":
        from etl_deltalake_spark.operators import dedup

        monkeypatch.setattr(dedup, "_LOCAL_GRAPH_MAX_EDGES", 0)
    return request.param


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    # DuckDB's default 32 threads fragment the process heap into
    # ~40k anonymous mmaps PER heavy PQ-chain oracle (glibc arena
    # churn); several such oracles in one session approach
    # vm.max_map_count (65530) and every later allocation fails as
    # OutOfMemory "bad allocation". 8 threads keep the same queries
    # ~5x under the map budget AND faster (32 threads oversubscribe
    # against the Spark JVM sharing the box). Measured: recall-curve
    # oracle 40074 maps/3.4s at 32 threads vs 7201 maps/1.0s at 8.
    con.execute("SET threads=8")
    con.execute("SET memory_limit='24GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
