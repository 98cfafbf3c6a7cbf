"""The benchmark's math: percentiles, span self time, sink write accounting,
and the open-loop latency bookkeeping. Pure functions over plain data, so
they are tested on synthetic inputs (perfbench/tests)."""
import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it, by
    the nearest-rank rule, or None when n is too small to have one."""
    if n <= TAIL_BEYOND:
        return None
    return math.floor(100 * (n - TAIL_BEYOND) / n)


def nearest_rank(values, p):
    xs = sorted(values)
    k = max(1, math.ceil(p * len(xs) / 100))
    return xs[k - 1]


def tail(values):
    """(percentile, value) of the tail as defined by `tail_percentile`."""
    p = tail_percentile(len(values))
    return (None, None) if p is None else (p, nearest_rank(values, p))


def slower_half_mean(values):
    """Mean of the slower half of the values (the upper half when sorted)."""
    xs = sorted(values)
    return statistics.mean(xs[len(xs) // 2:])


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def self_times(spans):
    """Per span id: its duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def written_files(before, after):
    """Files present after that were not present before, or changed.
    Listings map path -> [bytes, mtime_ms, rows]."""
    return {p: v for p, v in after.items()
            if p not in before or before[p][:2] != v[:2]}


def bucket_of(path):
    head = path.split("/", 1)[0]
    return head if "=" in head else ""


def write_accounting(before, after):
    """(touched buckets, bytes written, rows rewritten) between two listings
    of a bucketed table: a bucket is touched when any of its files was
    written or removed."""
    new = written_files(before, after)
    removed = [p for p in before if p not in after]
    touched = {bucket_of(p) for p in list(new) + removed}
    return (len(touched), sum(v[0] for v in new.values()),
            sum(max(v[2], 0) for v in new.values()))


def cell_bytes(cells):
    """Raw bytes of KV cells: rowkey, cf, qualifier and value as UTF-8, plus
    an 8-byte timestamp."""
    return sum(len(r.encode()) + len(c.encode()) + len(q.encode()) + len(v.encode()) + 8
               for r, c, q, v, _ in cells)


def files_per_batch(rows_per_batch, rows_per_file):
    """How many equal files each batch took, in file order; None if a
    batch's row count is not a whole number of files."""
    out = []
    for n in rows_per_batch:
        if n % rows_per_file:
            return None
        out.append(n // rows_per_file)
    return out


def batch_of_files(n_files, files_in_batch):
    """Batch index of each file, given how many files each batch took."""
    out = []
    for b, k in enumerate(files_in_batch):
        out.extend([b] * k)
    return out[:n_files] if len(out) >= n_files else None


def open_loop(due_ms, moved_ms, file_batch, batch_start_ms, batch_end_ms):
    """Per-file latency (due -> end of the batch that emitted it), queue
    wait (due -> start of that batch) and generator lateness
    (moved - due), all in ms."""
    lat = [batch_end_ms[b] - d for d, b in zip(due_ms, file_batch)]
    wait = [batch_start_ms[b] - d for d, b in zip(due_ms, file_batch)]
    late = [m - d for d, m in zip(due_ms, moved_ms)]
    return lat, wait, late


def drain_rate(rows_per_batch, batch_end_ms):
    """Rows per second after the first batch: the rows of batches 2..n over
    the time between the first and the last batch end."""
    if len(rows_per_batch) < 2:
        return 0.0
    span_s = (batch_end_ms[-1] - batch_end_ms[0]) / 1000.0
    return sum(rows_per_batch[1:]) / span_s if span_s > 0 else 0.0


def lww_fold(state, cells):
    """Fold cells (rowkey, cf, qualifier, value, ts) into `state`
    (rowkey -> {(cf, qualifier): (ts, value)}) by last write wins: the later
    ts wins, a tie goes to the larger value. Returns how many cells of the
    batch are new or changed in the result."""
    batch = {}
    for r, c, q, v, ts in cells:
        k = (r, (c, q))
        if k not in batch or (ts, v) > batch[k]:
            batch[k] = (ts, v)
    changed = 0
    for (r, cq), tv in batch.items():
        row = state.setdefault(r, {})
        old = row.get(cq)
        if old is None or tv > old:
            if old is None or old[1] != tv[1]:
                changed += 1
            row[cq] = tv
    return changed
