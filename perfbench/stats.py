"""Arithmetic the benchmark's report rests on, kept free of I/O so the
benchmark's own tests can check it on synthetic inputs."""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so a reported tail always rests on several slow samples.
MIN_BEYOND = 10


def percentile(samples, p):
    """Nearest-rank p-th percentile (0 < p < 100), or None when fewer than
    MIN_BEYOND samples rank above it."""
    xs = sorted(samples)
    rank = math.ceil(p / 100.0 * len(xs))
    if rank < 1 or len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def visible_ms(n_files, file_batch, batch_end_ms):
    """When each file's rows became visible: the end of the micro-batch
    that committed them. None for a file whose rows never appeared, or
    whose rows are split over batches (a file is read in one batch)."""
    out = []
    for i in range(n_files):
        batches = file_batch.get(str(i), [])
        if len(batches) == 1 and batches[0] in batch_end_ms:
            out.append(batch_end_ms[batches[0]])
        else:
            out.append(None)
    return out


def freshness_s(due_ms, visible):
    """Seconds from each file's due time to its rows being visible; files
    never made visible are left out (they are counted as failures)."""
    return [(v - d) / 1000.0 for d, v in zip(due_ms, visible) if v is not None]


def backlog(renamed_ms, visible):
    """Files arrived but not yet visible, after every arrival and commit,
    as (time_ms, files) in time order. A never-visible file stays in the
    backlog to the end."""
    events = [(t, 1) for t in renamed_ms]
    events += [(v, -1) for v in visible if v is not None]
    events.sort(key=lambda e: (e[0], -e[1]))
    level, series = 0, []
    for t, step in events:
        level += step
        series.append((t, level))
    return series


def mean_backlog(series, a_ms, b_ms):
    """Time-weighted mean of a backlog series over [a_ms, b_ms]."""
    if b_ms <= a_ms:
        return 0.0
    acc, level, t_prev = 0.0, 0, a_ms
    for t, lv in series:
        if t > a_ms:
            t_clip = min(t, b_ms)
            acc += level * (t_clip - t_prev)
            t_prev = t_clip
            if t >= b_ms:
                break
        level = lv
    acc += level * (b_ms - t_prev)
    return acc / (b_ms - a_ms)


def backlog_growth(series, start_ms, end_ms):
    """Mean backlog over the last quarter of the schedule minus the mean
    over its first quarter; positive when the loader falls behind."""
    q = (end_ms - start_ms) / 4.0
    return (mean_backlog(series, end_ms - q, end_ms)
            - mean_backlog(series, start_ms, start_ms + q))


# How far the live backlog may grow before the loader counts as falling
# behind: this share of the live files, and never less than a few files.
# On a 4-core host the engine as first benchmarked grew it by 0.8 to 2.9
# files over the 32-file schedule; a loader serving 70 % of the arrival
# rate grows it by about 7.
GROWTH_SHARE = 0.15
GROWTH_MIN_FILES = 4


def growth_limit(n_files):
    """Largest backlog growth (backlog_growth) that still counts as keeping
    up with a schedule of n_files files."""
    return max(GROWTH_MIN_FILES, GROWTH_SHARE * n_files)


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval its children cover, summed by name, in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        own = (s["end_ms"] - s["start_ms"] - covered) / 1000.0
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
