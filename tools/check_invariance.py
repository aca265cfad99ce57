"""Partition-invariance sweep: every registered query must produce the
IDENTICAL result multiset under different shuffle-partition settings.

Float partial-aggregation order changes with partition count, so any
query whose result drifts here has a nondeterminism bug that WILL
surface on a real cluster (where partition counts differ run to run).
The repo's integer-quantization discipline exists precisely to make
this sweep pass.

Usage: python tools/check_invariance.py [sf_dir] [query ...] [--serial]

Runs in TWO POOLED PHASES (all queries at 32 shuffle partitions, then
all at 5, compared pairwise) across 8 threads. Each query call gets its
own ``spark.newSession()`` clone with the phase's partition count set on
THAT clone: SQLConf is per-session, so a staged-state builder that
scopes ``spark.sql.shuffle.partitions`` mid-build with
``utils.scoped_conf`` only touches its own clone — the unsynchronized
restore can never leak a stale count into a concurrent query's phase
(which could otherwise compare a query at the SAME count twice and
false-PASS a variant query). Phase a stores
only a digest per query (memory stays bounded by the largest single
result, not the whole surface); a phase-b mismatch re-runs the query at
32 partitions to print the actual row diff. ``--serial`` preserves the
original one-query-at-a-time loop on the parent session.

Nothing is skipped: memory-sink streaming queries register a new sink
table per call (trivially re-runnable) and file-sink/foreach queries
reuse fingerprint-keyed scratch state on purpose (idempotent). The
``SKIP`` set is kept empty for emergencies.
"""

from __future__ import annotations

import hashlib
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, "/root/repo")

SKIP: set[str] = set()

_WORKERS = 8


def canon(df) -> Counter:
    cols = sorted(df.columns)
    out = Counter()
    for row in df.collect():
        out[tuple(repr(row[c]) for c in cols)] += 1
    return out


def digest(c: Counter) -> str:
    h = hashlib.sha256()
    for key, n in sorted(c.items()):
        h.update(repr((key, n)).encode())
    return h.hexdigest()


def compare(name: str, a: Counter, b: Counter) -> tuple[bool, str]:
    """Shared verdict formatter for both the serial and pooled paths."""
    if a == b:
        return True, f"PASS {name} ({sum(b.values())} rows)"
    only_a = list((a - b).keys())[:3]
    only_b = list((b - a).keys())[:3]
    return False, f"FAIL {name}: 32p-only={only_a} 5p-only={only_b}"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--serial"]
    serial = "--serial" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    from pyspark_xgboost_spark.registry import all_queries
    from pyspark_xgboost_spark.session import get_spark

    spark = get_spark("invariance")
    qs = all_queries()
    names = [n for n in qs if (not only or n in only) and n not in SKIP]
    failures: list[str] = []

    def run_at(name: str, partitions: str) -> Counter:
        """One query on a fresh conf-isolated session clone."""
        sess = spark.newSession()
        sess.conf.set("spark.sql.shuffle.partitions", partitions)
        return canon(qs[name](sess, sf_dir))

    if serial:
        for name in names:
            try:
                spark.conf.set("spark.sql.shuffle.partitions", "32")
                a = canon(qs[name](spark, sf_dir))
                spark.conf.set("spark.sql.shuffle.partitions", "5")
                b = canon(qs[name](spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — report, keep sweeping
                print(f"ERR  {name}: {type(exc).__name__}: {exc}")
                failures.append(name)
                continue
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", "32")
            ok, msg = compare(name, a, b)
            print(msg)
            if not ok:
                failures.append(name)
    else:
        lock = threading.Lock()
        phase_a: dict[str, str] = {}
        errs: dict[str, str] = {}

        def run_phase(phase: str):
            def work(name):
                if name in errs:
                    return
                partitions = "32" if phase == "a" else "5"
                try:
                    c = run_at(name, partitions)
                except Exception as exc:  # noqa: BLE001
                    with lock:
                        errs[name] = f"{type(exc).__name__}: {exc}"
                    return
                if phase == "a":
                    with lock:
                        phase_a[name] = digest(c)
                    return
                if phase_a.pop(name, None) == digest(c):
                    print(f"PASS {name} ({sum(c.values())} rows)", flush=True)
                    return
                # mismatch: re-run at 32p for the actual row diff
                try:
                    a = run_at(name, "32")
                except Exception as exc:  # noqa: BLE001
                    a = Counter()
                    print(f"(diff re-run at 32p errored: {exc})", flush=True)
                same_now, msg = compare(name, a, c)
                if same_now:
                    # still a FAILURE: phase a's digest differed, the
                    # re-run just happened to land on the 5p result —
                    # run-to-run nondeterminism, the exact bug class
                    # this sweep hunts; never echo compare()'s PASS text
                    msg = (
                        f"FAIL {name}: phase-a digest differed but a "
                        f"fresh 32p run matched 5p — flaky across "
                        f"executions, rerun --serial {name} to capture "
                        f"the diverging rows"
                    )
                print(msg, flush=True)
                with lock:
                    failures.append(name)

            with ThreadPoolExecutor(max_workers=_WORKERS) as ex:
                list(ex.map(work, names))

        run_phase("a")
        run_phase("b")
        for name, msg in sorted(errs.items()):
            print(f"ERR  {name}: {msg}")
            failures.append(name)

    print(f"\n{len(names) - len(failures)} invariant, {len(failures)} variant/err")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
