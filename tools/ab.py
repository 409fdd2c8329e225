"""Interleaved A/B runs of the repository benchmark on two checkouts.

    python3 tools/ab.py --parent DIR --change DIR --workload W \\
        --seeds 101-110 [--seconds 6]

For each seed it runs ``perfbench/run.py --trace 0`` once in each
checkout — the parent first on even pairs, the change first on odd ones,
so a drift of the host's speed lands on both sides — and reads the last
stdout line of each run. For every end-to-end metric that the parent's
``BENCHMARK.json`` declares it prints the per-pair values, each side's
median and quartiles, the change's wins, ties and losses, and whether the
median gap exceeds the parent's quartile spread. A gain holds when the
change wins at least nine tenths of the pairs and its median is better by
more than that spread.

Stdlib only. The exit code is 1 when any run failed, printed no result
line or reported ``correct: false``; the summary covers the runs that
did report.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``"101-103,107"`` → ``[101, 102, 103, 107]``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def parse_result(stdout: str) -> dict | None:
    """The JSON object on the last non-empty stdout line of a run, or
    ``None`` when there is none."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict | None:
    """One untraced run of the checkout's own benchmark; its parsed
    result, or ``None`` when the run failed or printed no result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    result = parse_result(proc.stdout)
    if proc.returncode != 0 or result is None:
        tail = "\n".join(proc.stderr.splitlines()[-20:])
        print(f"ab: {checkout} seed {seed} exited {proc.returncode}\n{tail}", file=sys.stderr)
        return None
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method, so two runs already have
    quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(metrics: list[dict], pairs: list[tuple[int, dict, dict]]) -> tuple[list[str], bool]:
    """The report over ``pairs`` of ``(seed, parent_result,
    change_result)`` for each of ``metrics`` (``BENCHMARK.json``'s
    ``end_to_end`` entries), and whether every run was correct."""
    ok = all(pair[k].get("correct") is True for pair in pairs for k in (1, 2))
    out = []
    for k, side in enumerate(SIDES, start=1):
        failed = sum(pair[k].get("failed", 0) for pair in pairs)
        out.append(f"{side}: {len(pairs)} runs, {failed} failed operations")
    for m in metrics:
        name, better = m["name"], m["better"]
        sign = 1.0 if better == "lower" else -1.0
        rows, wins, ties = [], 0, 0
        for seed, p, c in pairs:
            pv = p["metrics"][name]["value"]
            cv = c["metrics"][name]["value"]
            gain = sign * (pv - cv)
            wins += gain > 0
            ties += gain == 0
            rows.append((seed, pv, cv, "win" if gain > 0 else "tie" if gain == 0 else "loss"))
        n = len(rows)
        pq = quartiles([r[1] for r in rows])
        cq = quartiles([r[2] for r in rows])
        gap, spread = sign * (pq[1] - cq[1]), pq[2] - pq[0]
        out.append(f"\n{name} ({m.get('unit', '')}, {better} is better)")
        out.append("  seed      parent      change")
        out += [f"  {s:<6} {pv:>10.4f}  {cv:>10.4f}  {w}" for s, pv, cv, w in rows]
        for side, q in (("parent", pq), ("change", cq)):
            out.append(f"  {side} median {q[1]:.4f} (q1 {q[0]:.4f}, q3 {q[2]:.4f})")
        out.append(f"  change wins {wins}, ties {ties}, losses {n - wins - ties} of {n}")
        out.append(
            f"  median gap {gap:+.4f} vs parent quartile spread {spread:.4f}: "
            f"{'exceeds' if gap > spread else 'within'}"
        )
        out.append(f"  gain: {'yes' if wins >= 0.9 * n and gap > spread else 'no'}")
    return out, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101,103,105-107")
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args(argv)
    metrics = json.loads((args.parent / "BENCHMARK.json").read_text())["end_to_end"]
    checkouts = {"parent": args.parent, "change": args.change}
    pairs, all_ran = [], True
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        got = {}
        for side in order:
            got[side] = run_once(checkouts[side], args.workload, seed, args.seconds)
            print(f"ab: seed {seed} {side}: {json.dumps(got[side])}", file=sys.stderr)
        if None in got.values():
            all_ran = False
            continue
        pairs.append((seed, got["parent"], got["change"]))
    report, ok = summarize(metrics, pairs)
    print(f"{args.workload}: {len(pairs)} pairs, order alternated")
    print("\n".join(report))
    return 0 if all_ran and ok and pairs else 1


if __name__ == "__main__":
    sys.exit(main())
