"""Statistics for the graft benchmark: medians, quartiles, tail
percentiles with a sample floor, run-to-run spread and the regression
bound check.

`python3 perfbench/stats.py compare PARENT.jsonl CHANGE.jsonl` reads two
files of result lines (the last stdout line of each run, one per line,
for one workload) and reports, per end-to-end metric of BENCHMARK.json,
both medians and whether the change is worse than the parent by more
than the metric's bound.
"""
import json
import math
import re
import statistics
import sys
from pathlib import Path

NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A tail percentile is reported only when at least this many samples lie
# beyond it.
TAIL_FLOOR = 10


def valid_name(name):
    """Metric and workload names: letters, digits, `_`, `.` and `-`."""
    return bool(NAME.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    rank = math.ceil(p / 100 * n)
    return n - rank


def percentile(xs, p):
    """Nearest-rank p-th percentile, or None when fewer than TAIL_FLOOR
    samples lie beyond it (the sample cannot support that tail)."""
    n = len(xs)
    if n == 0 or beyond(n, p) < TAIL_FLOOR:
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * n) - 1)]


def worse_by(parent, change, better):
    """How much worse `change` is than `parent`, as a share of `parent`
    (negative when it is better)."""
    d = (change - parent) / abs(parent)
    return d if better == "lower" else -d


def regressed(parent_values, change_values, better, bound):
    """True when the change's median is worse than the parent's median
    by more than `bound` (a share of the parent's median)."""
    return worse_by(median(parent_values), median(change_values), better) > bound


def compare(spec, parent_lines, change_lines):
    rows = []
    for m in spec["end_to_end"]:
        name = m["name"]
        p = [r["metrics"][name]["value"] for r in parent_lines]
        c = [r["metrics"][name]["value"] for r in change_lines]
        rows.append((name, median(p), spread(p), median(c), spread(c),
                     worse_by(median(p), median(c), m["better"]),
                     regressed(p, c, m["better"], m["bound"])))
    return rows


def _load(path):
    return [json.loads(line) for line in Path(path).read_text().splitlines() if line.strip()]


def main(argv):
    if len(argv) != 4 or argv[1] != "compare":
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    rows = compare(spec, _load(argv[2]), _load(argv[3]))
    bad = False
    for name, pm, ps, cm, cs, w, reg in rows:
        print(f"{name:16s} parent {pm:.6g} (spread {ps:.3f})  change {cm:.6g} "
              f"(spread {cs:.3f})  worse by {w:+.3f}{'  REGRESSED' if reg else ''}")
        bad |= reg
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
