"""Interleaved A/B runs of the repository benchmark on two checkouts.

    python3 tools/ab.py --parent DIR --change DIR [--control DIR] \\
        --workload W --seeds 101-110 [--seconds 6]

For each seed it runs ``perfbench/run.py --trace 0`` once in each
checkout, in an order that rotates every side through every slot
(``run_order``), so a drift of the host's speed, or an effect of running
first or last, lands on every side alike, and reads the last stdout line
of each run. For every end-to-end metric that the parent's
``BENCHMARK.json`` declares it prints the per-pair values, each side's
median and quartiles, the change's wins, ties and losses, and whether the
median gap exceeds the parent's quartile spread. A gain holds when the
change wins at least nine tenths of the pairs and its median is better by
more than that spread.

``--control`` names a second checkout of the parent's own code (an A/A
control). It runs in every pair and takes its turn in the rotation, and its
wins and losses against the parent print beside the change's for every
metric: the pattern the harness produces with no code change at all,
such as a freshly extracted directory reading a slower ``setup_s`` than
a long-used one.

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

SIDES = ("parent", "change", "control")


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


def run_order(sides: tuple[str, ...], i: int) -> tuple[str, ...]:
    """The order of the ``i``-th pair's runs: ``sides`` rotated by
    ``i``, reversed on every other round of ``len(sides)`` pairs. Every
    block of ``2 * len(sides)`` pairs puts each side in each slot equally
    often (two sides: first, second, second, first; three: all six
    orders)."""
    n = len(sides)
    order = sides[i % n :] + sides[: i % n]
    return order[::-1] if (i // n) % 2 else order


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method, so two runs already have
    quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(metrics: list[dict], pairs: list[tuple]) -> tuple[list[str], bool]:
    """The report over ``pairs`` of ``(seed, parent_result,
    change_result)`` — or ``(seed, parent_result, change_result,
    control_result)`` with an A/A control — for each of ``metrics``
    (``BENCHMARK.json``'s ``end_to_end`` entries), and whether every run
    was correct."""
    sides = SIDES[: len(pairs[0]) - 1] if pairs else SIDES[:2]
    ok = all(pair[k].get("correct") is True for pair in pairs for k in range(1, len(sides) + 1))
    out = []
    for k, side in enumerate(sides, start=1):
        failed = sum(pair[k].get("failed", 0) for pair in pairs)
        out.append(f"{side}: {len(pairs)} runs, {failed} failed operations")
    for m in metrics:
        name, better = m["name"], m["better"]
        sign = 1.0 if better == "lower" else -1.0
        vals = {
            side: [pair[k]["metrics"][name]["value"] for pair in pairs]
            for k, side in enumerate(sides, start=1)
        }
        # per pair, how much better than the parent each other side read
        gains = {
            side: [sign * (p - v) for p, v in zip(vals["parent"], vals[side])]
            for side in sides[1:]
        }
        out.append(f"\n{name} ({m.get('unit', '')}, {better} is better)")
        out.append("  seed   " + "".join(f"{side:>12}" for side in sides))
        for i, pair in enumerate(pairs):
            cells = "".join(f"  {vals[side][i]:>10.4f}" for side in sides)
            verdicts = " / ".join(
                "win" if g[i] > 0 else "tie" if g[i] == 0 else "loss" for g in gains.values()
            )
            out.append(f"  {pair[0]:<6} {cells}  {verdicts}")
        qs = {side: quartiles(vals[side]) for side in sides}
        for side, q in qs.items():
            out.append(f"  {side} median {q[1]:.4f} (q1 {q[0]:.4f}, q3 {q[2]:.4f})")
        spread = qs["parent"][2] - qs["parent"][0]
        n = len(pairs)
        for side, g in gains.items():
            wins, ties = sum(x > 0 for x in g), sum(x == 0 for x in g)
            gap = sign * (qs["parent"][1] - qs[side][1])
            out.append(f"  {side} wins {wins}, ties {ties}, losses {n - wins - ties} of {n}")
            out.append(
                f"  {side} median gap {gap:+.4f} vs parent quartile spread {spread:.4f}: "
                f"{'exceeds' if gap > spread else 'within'}"
            )
            if side == "change":
                gain = wins >= 0.9 * n and gap > spread
        out.append(f"  gain: {'yes' if gain else 'no'}")
    return out, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--control", type=Path, help="a second checkout of the parent's code")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101,103,105-107")
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args(argv)
    metrics = json.loads((args.parent / "BENCHMARK.json").read_text())["end_to_end"]
    checkouts = {"parent": args.parent, "change": args.change, "control": args.control}
    sides = SIDES if args.control else SIDES[:2]
    pairs, all_ran = [], True
    for i, seed in enumerate(parse_seeds(args.seeds)):
        got = {}
        for side in run_order(sides, i):
            got[side] = run_once(checkouts[side], args.workload, seed, args.seconds)
            print(f"ab: seed {seed} {side}: {json.dumps(got[side])}", file=sys.stderr)
        if None in got.values():
            all_ran = False
            continue
        pairs.append((seed, *(got[side] for side in sides)))
    report, ok = summarize(metrics, pairs)
    control = ", A/A control beside" if args.control else ""
    print(f"{args.workload}: {len(pairs)} pairs, order rotated{control}")
    print("\n".join(report))
    return 0 if all_ran and ok and pairs else 1


if __name__ == "__main__":
    sys.exit(main())
