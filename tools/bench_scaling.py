"""Scaling-efficiency evidence: the same QA job at two parallelism levels on
the same input — the sandbox proxy for N vs 4N executors (BASELINE.md
protocol; target efficiency ≥ 0.8).

Default levels: local[2] vs local[8], each CONFINED to exactly N cores with
`taskset -c`. Without confinement the comparison is dishonest in local mode:
the JVM's GC/Netty/codegen threads and the Python workers of a `local[2]`
run spill onto the machine's other 30 cores, so the small level gets free
extra parallelism a real 2-core executor would not have (measured: that
inflated T_small by ~1.8× relative to a confined run and depressed apparent
efficiency to ~0.55). 2→8 is preferred over 8→32 because the VM's shared
memory bandwidth saturates near 32 busy cores (raw 32-process numpy scales
only ~2.3× over 8), which would measure the sandbox, not the engine.

Each level runs in its own subprocess (fresh JVM) so `local[N]` actually
differs; each level warms up before the measured runs and reports the MIN
across reps (noisy-neighbor spikes only add time; see bench.py).

Usage: python tools/bench_scaling.py [--update-baseline] [--full-matrix]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cpus: int, pages_n: int, reps: int | None = None) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        BENCH_PAGES_N=str(pages_n),
        BENCH_QA_ONLY="1",
        BENCH_REPS=str(reps or os.environ.get("BENCH_REPS", "3")),
    )
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if os.environ.get("BENCH_NO_TASKSET") != "1":
        # confine JVM + Python workers to exactly `cpus` cores — the honest
        # N-core-executor proxy (see module docstring)
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_levels_interleaved(levels: list[int], pages_n: int, rounds: int) -> dict:
    """Alternate the levels in time, min per level across rounds.

    The sandbox's noisy-neighbor windows last MINUTES — long enough to
    swallow one level's whole measurement phase and invert the comparison
    (observed: the same 8-core run measured 13.6s and 37.1s twenty minutes
    apart). Interleaving 2-core and 8-core rounds puts both levels inside
    the same noise windows; min-across-rounds then picks each level's clean
    round."""
    best: dict[int, dict] = {}
    for _ in range(rounds):
        for c in levels:
            r = run_level(c, pages_n, reps=1)
            if c not in best or r["qa_single_pass_sec"] < best[c][
                "qa_single_pass_sec"
            ]:
                best[c] = r
    return best


def ensure_corpus(pages_n: int) -> None:
    """Pre-generate the pages corpus unconfined at full width, so the
    confined measurement subprocesses only read it."""
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from isimip_qa_spark.session import get_spark; "
        "import bench; bench.ensure_pages(get_spark(master='local[32]', "
        "shuffle_partitions=32, extra_conf={'spark.local.dir': bench.TMP}), %d)"
        % (REPO, pages_n)
    )
    subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, BENCH_PAGES_N=str(pages_n)),
        check=True,
        capture_output=True,
        cwd=REPO,
    )


def main() -> None:
    pages_n = int(os.environ.get("BENCH_PAGES_N", "1000000"))
    ensure_corpus(pages_n)
    if "--full-matrix" in sys.argv:
        levels = [1, 2, 4, 8, 32]
    else:
        levels = [
            int(x) for x in os.environ.get("BENCH_LEVELS", "1,4").split(",")
        ]
    rounds = int(os.environ.get("BENCH_ROUNDS", "3"))
    res = run_levels_interleaved(levels, pages_n, rounds)
    # every N → 4N pair present in the level set
    pairs = {}
    for a in levels:
        if a * 4 in res:
            eff = (res[a * 4]["value"] / res[a]["value"]) / 4.0
            pairs[f"local[{a}] -> local[{a * 4}]"] = {
                "scaling_efficiency": round(eff, 3),
                "pass": eff >= 0.8,
            }
    summary = {
        # unique per invocation, so repeat runs with equal efficiency
        # VALUES stay distinguishable when their records are merged
        "run_id": time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
        "pages_n": pages_n,
        "rounds": rounds,
        "levels": {
            str(c): {
                "docs_per_sec": r["value"],
                "qa_single_pass_sec": r.get("qa_single_pass_sec"),
            }
            for c, r in res.items()
        },
        "n_to_4n_pairs": pairs,
    }
    print(json.dumps(summary, indent=2))
    if "--update-baseline" in sys.argv:
        rows = "\n".join(
            f"| local[{c}] | {r['value']:.0f} | {r.get('qa_single_pass_sec')}s |"
            for c, r in res.items()
        )
        prows = "\n".join(
            f"| {k} | **{v['scaling_efficiency']}** | "
            f"{'PASS' if v['pass'] else 'FAIL'} |"
            for k, v in pairs.items()
        )
        with open(os.path.join(REPO, "BASELINE.md"), "a") as f:
            f.write(
                f"\n## Measured scaling (QA pipeline, {pages_n} docs, tmpfs, "
                f"taskset-confined, min of {rounds} interleaved rounds)\n\n"
                f"| level | docs/sec (single_pass) | wall |\n"
                f"|---|---|---|\n{rows}\n\n"
                f"| N → 4N pair | scaling efficiency | vs target ≥ 0.8 |\n"
                f"|---|---|---|\n{prows}\n"
            )


if __name__ == "__main__":
    main()
