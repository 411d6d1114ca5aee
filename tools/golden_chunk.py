"""Run one contiguous chunk of the golden corpus in a fresh JVM and report.

Why this exists: three round-9 full-suite runs (and the round-9 driver
verify) watched the sandbox silently reap the shared test JVM 20-40 min
into the ~1400-test golden corpus — no hs_err file, no kernel OOM record —
cascading py4j ConnectionRefused over every later test, while each
"failed" test passes in isolation. A 16g heap cap reduced RSS but did
not stop the reaping, so the corpus now runs as a series of short-lived
subprocesses: each chunk gets its own JVM that is busy for only a few
minutes, far below the observed reap horizon.

Usage: python tools/golden_chunk.py CHUNK_INDEX NCHUNKS
Prints one JSON line on stdout:
    {"chunk": i, "nchunks": n, "total": t, "passed": p,
     "failed": [{"name": ..., "msg": ...}, ...],
     "flaky": [{"name": ..., "msg": ...}, ...]}
"flaky" lists the tests that failed once and passed on the fresh-JVM retry,
with their first failure; they count as passed.
Exit code 0 iff every test in the chunk passed.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/reference/tests/queries/0_stateless"
LIST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden_corpus.txt",
)

PER_TEST_TIMEOUT = 150  # seconds; runaway guard, not a perf gate


class _Timeout(Exception):
    pass


def _fresh_spark(tag: str):
    """Build a brand-new session, dropping any cached singletons so a JVM
    killed by a previous pathological test cannot poison the rest of the
    chunk."""
    from pyspark.sql import SparkSession

    from clickhouse_23_3_19_32_lts_spark.session import get_spark

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception:  # noqa: BLE001 — dead JVM; just drop the handle
        pass
    try:
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        from pyspark import SparkContext

        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
    except Exception:  # noqa: BLE001
        pass
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    mem = os.environ.get("SPARK_GRAFT_TEST_DRIVER_MEM")
    return get_spark(
        app_name=f"golden-chunk-{tag}",
        shuffle_partitions=8,
        extra_confs={"spark.driver.memory": mem} if mem else None,
    )


def _healthy(spark) -> bool:
    try:
        spark.sql("SELECT 1").collect()
        return True
    except Exception:  # noqa: BLE001
        return False


def main() -> int:
    from tools.golden import run_golden

    idx, nchunks = int(sys.argv[1]), int(sys.argv[2])
    with open(LIST) as fh:
        corpus = [line.strip() for line in fh if line.strip()]
    lo = (len(corpus) * idx) // nchunks
    hi = (len(corpus) * (idx + 1)) // nchunks
    chunk = corpus[lo:hi]

    spark = _fresh_spark(str(idx))
    old = signal.signal(
        signal.SIGALRM, lambda *_: (_ for _ in ()).throw(_Timeout())
    )

    def _run_one(sp, name):
        sc = sp.sparkContext
        dog = threading.Timer(
            PER_TEST_TIMEOUT + 10.0, lambda sc=sc: sc.cancelAllJobs()
        )
        dog.daemon = True
        dog.start()
        signal.alarm(PER_TEST_TIMEOUT)
        try:
            return run_golden(
                sp, f"{BASE}/{name}.sql", f"{BASE}/{name}.reference"
            )
        except _Timeout:
            return False, f"timed out after {PER_TEST_TIMEOUT}s"
        except Exception as exc:  # noqa: BLE001
            return False, f"{type(exc).__name__}: {exc}"
        finally:
            signal.alarm(0)
            dog.cancel()

    failed: list[dict[str, str]] = []
    flaky: list[dict[str, str]] = []
    try:
        for name in chunk:
            ok, msg = _run_one(spark, name)
            if not ok:
                failed.append({"name": name, "msg": str(msg)[:2000]})
                if not _healthy(spark):
                    spark = _fresh_spark(f"{idx}r")
        # Retry pass: a handful of corpus entries (the 013xx overflow
        # repros, load-sensitive 02000*) can kill or wedge the JVM when
        # they land on a bad memory/load state yet pass in isolation —
        # round 9 documented every such "failure" passing alone. Re-run
        # each failure ONCE in a brand-new JVM; genuine semantic
        # regressions fail deterministically and still fail here.
        if failed:
            spark = _fresh_spark(f"{idx}retry")
            persistent: list[dict[str, str]] = []
            for f in failed:
                ok, msg = _run_one(spark, f["name"])
                if not ok:
                    persistent.append(
                        {"name": f["name"], "msg": str(msg)[:2000]}
                    )
                    if not _healthy(spark):
                        spark = _fresh_spark(f"{idx}retry2")
                else:
                    flaky.append(f)
            failed = persistent
    finally:
        signal.signal(signal.SIGALRM, old)
        try:
            spark.stop()
        except Exception:  # noqa: BLE001
            pass

    print(
        json.dumps(
            {
                "chunk": idx,
                "nchunks": nchunks,
                "total": len(chunk),
                "passed": len(chunk) - len(failed),
                "failed": failed,
                "flaky": flaky,
            }
        )
    )
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
