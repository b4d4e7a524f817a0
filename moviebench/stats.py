"""Statistics of the benchmark: medians, tails, spreads and the A/B verdict.

The rules follow the repository's measurement method:
  - a timing is reported as its median plus the highest percentile that has
    at least ten samples beyond it;
  - run-to-run spread is the distance between the first and third quartile
    (`statistics.quantiles(values, n=4)`) as a share of the median;
  - a change regresses a metric when its median is worse than the parent's
    by more than the metric's bound; when either side spreads wider than the
    bound the result is `unresolved` instead, unless every run of the change
    reads better than every run of the parent;
  - a change improves a metric only when it wins at least nine tenths of the
    alternating (parent, change) pairs, ties counting for neither, and the
    medians differ by more than the parent's interquartile range.
"""
import statistics

TAIL_BEYOND = 10
WIN_SHARE = 0.9
# Fingerprint fields that identify the code, not the host: they may differ.
CODE_FIELDS = ("commit", "source_digest")


def median(values):
    return statistics.median(values)


def tail(values):
    """(percentile, value) of the highest percentile with at least ten samples
    beyond it, or None when there are too few samples for one."""
    xs = sorted(values)
    rank = len(xs) - TAIL_BEYOND
    if rank < 1:
        return None
    return 100.0 * rank / len(xs), xs[rank - 1]


def quartiles(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / abs(median(values))


def worse_by(parent, change, better):
    """How much worse the change's median is than the parent's, as a share
    of the parent's median (negative when it is better)."""
    p, c = median(parent), median(change)
    return (c - p) / abs(p) if better == "lower" else (p - c) / abs(p)


def beats(a, b, better):
    return a < b if better == "lower" else a > b


def wins(pairs, better):
    """Number of (parent, change) pairs the change wins; ties count for
    neither side."""
    return sum(1 for p, c in pairs if beats(c, p, better))


def verdict(parent, change, bound, better):
    """`improved`, `unchanged`, `regressed` or `unresolved` for one metric
    on one workload; `parent` and `change` are the per-run values, in the
    order the alternating pairs ran."""
    all_better = all(beats(c, p, better) for c in change for p in parent)
    if max(spread(parent), spread(change)) > bound and not all_better:
        return "unresolved"
    if worse_by(parent, change, better) > bound:
        return "regressed"
    q1, q3 = quartiles(parent)
    n = min(len(parent), len(change))
    won = wins(list(zip(parent, change)), better)
    if won >= WIN_SHARE * n and abs(median(change) - median(parent)) > q3 - q1:
        return "improved"
    return "unchanged"


def fingerprint_mismatch(a, b):
    """Host fingerprint fields whose values differ between two results."""
    keys = (set(a) | set(b)) - set(CODE_FIELDS)
    return sorted(k for k in keys if a.get(k) != b.get(k))
