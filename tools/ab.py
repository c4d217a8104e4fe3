"""Alternating A/B of registered queries between two checkouts.

Usage: python tools/ab.py <treeA> <treeB> <q1,q2,...> <rounds> <out.jsonl>

For each round and each query, runs ``<tree>/bench.py --one <query>``
once in each tree, each a fresh process (fresh JVM). The tree that runs
first alternates from round to round, so neither arm always takes the
first slot after the other's JVM exits. The CPU probe
(``bench._probe_sec``) and the all-core bandwidth probe
(``bench._bw_probe``) are recorded immediately before and after every
run. There is no launch gate: a matched-bandwidth comparison filters the
rows on ``bw_before`` afterwards.

Each child inherits the environment (``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_BENCH_RUNS``, ...) plus ``SPARK_GRAFT_BENCH_SET=registry``,
so any registered name resolves in either tree, older ones included. A
run that times out or exits non-zero becomes a row with ``error`` and the
loop continues. Appends one JSON line per run to ``out.jsonl``: round,
query, arm (A/B), slot (0 = ran first), absolute tree path, the probes,
and the child's ``BENCH_ONE`` record (samples, build, exec, stages).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _bw_probe, _probe_sec  # noqa: E402

TIMEOUT_SEC = 1800


def _run(tree: str, query: str, env: dict) -> dict:
    try:
        r = subprocess.run(
            [sys.executable, os.path.join(tree, "bench.py"), "--one", query],
            capture_output=True,
            text=True,
            timeout=TIMEOUT_SEC,
            env=env,
            cwd=tree,
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timeout after {TIMEOUT_SEC}s"}
    line = next(
        (
            ln.removeprefix("BENCH_ONE ")
            for ln in r.stdout.splitlines()
            if ln.startswith("BENCH_ONE ")
        ),
        None,
    )
    if r.returncode != 0 or line is None:
        return {"error": f"rc={r.returncode}: {r.stderr[-800:]}"}
    return json.loads(line)


def main() -> None:
    if len(sys.argv) != 6:
        raise SystemExit(__doc__)
    arms = list(zip("AB", map(os.path.abspath, sys.argv[1:3])))
    queries = sys.argv[3].split(",")
    rounds, out = int(sys.argv[4]), sys.argv[5]
    env = {**os.environ, "SPARK_GRAFT_BENCH_SET": "registry"}
    for rnd in range(rounds):
        order = arms if rnd % 2 == 0 else arms[::-1]
        for q in queries:
            for slot, (arm, tree) in enumerate(order):
                row = {
                    "round": rnd + 1,
                    "query": q,
                    "arm": arm,
                    "slot": slot,
                    "tree": tree,
                    "probe_before": _probe_sec(),
                    "bw_before": _bw_probe(),
                    "loadavg_before": round(os.getloadavg()[0], 2),
                }
                rec = _run(tree, q, env)
                row.update(probe_after=_probe_sec(), bw_after=_bw_probe(), **rec)
                with open(out, "a") as f:
                    f.write(json.dumps(row) + "\n")
                print(
                    f"round {rnd + 1} {q} {arm}: "
                    f"{rec.get('samples') or rec['error'][:200]}",
                    flush=True,
                )


if __name__ == "__main__":
    main()
