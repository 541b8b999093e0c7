"""Accounting rules of the benchmark, kept apart from the runner so that
tests/test_accounting.py can check them on hand-made inputs.

Times are milliseconds on one wall clock unless a name says otherwise.
"""
import hashlib
import heapq
import math
import statistics

# Report a percentile only when at least this many samples lie beyond it.
SAMPLES_BEYOND = 10


def min_samples(p, beyond=SAMPLES_BEYOND):
    """Smallest sample count for which percentile `p` (0..1) has `beyond`
    samples above it under the nearest-rank rule."""
    return math.ceil(beyond / (1.0 - p) - 1e-9)


def percentile(samples, p):
    """Nearest-rank percentile. Returns (value, samples beyond it)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p * len(xs) - 1e-9))
    return xs[rank - 1], len(xs) - rank


def checked_percentile(samples, p, beyond=SAMPLES_BEYOND):
    """Percentile `p`, or ValueError when fewer than `beyond` samples lie
    beyond it (the sample count is in the message)."""
    value, above = percentile(samples, p)
    if above < beyond:
        raise ValueError(f"p{p * 100:g} of {len(samples)} samples has {above} beyond it; "
                         f"need {beyond} (at least {min_samples(p, beyond)} samples)")
    return value


def due_latencies(chunks, batches):
    """Open-loop latency of each chunk: from when it was due to be offered
    until the commit of the first micro-batch whose end offset covers it.

    chunks: [(due_ms, offered_ms, offset)]; batches: [(commit_ms, end_offset)].
    A chunk no batch covers raises ValueError."""
    done = sorted(batches)
    out = []
    for due, _offered, offset in chunks:
        commit = next((c for c, end in done if end >= offset), None)
        if commit is None:
            raise ValueError(f"chunk at offset {offset} was never committed")
        out.append(commit - due)
    return out


def backlog_max(chunks, batches, chunk_records):
    """Largest number of offered but uncommitted records seen when a
    micro-batch starts, from source offsets: chunks offered by that time
    whose offset is past the end offset committed before it.

    chunks: [(due_ms, offered_ms, offset)];
    batches: [(start_ms, commit_ms, end_offset)]."""
    worst = 0
    committed = -1
    for start, _commit, end in sorted(batches):
        waiting = sum(1 for _d, offered, off in chunks if offered <= start and off > committed)
        worst = max(worst, waiting * chunk_records)
        committed = max(committed, end)
    return worst


def generator_lateness(chunks):
    """How late each chunk was offered after it was due."""
    return [max(0.0, offered - due) for due, offered, _off in chunks]


def result_digest(columns, rows):
    """Order-insensitive digest of an integer-valued result; the same rule
    the benchmark JVM applies to Spark results (Corpus.digest)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return "N"
        if isinstance(v, bool) or not isinstance(v, int):
            return "?" + type(v).__name__
        return str(v)

    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    text = "\n".join(["|".join(columns[i] for i in order)] + lines)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def digest_mismatches(spark, oracle):
    """Names whose Spark digest differs from (or lacks) the oracle's."""
    return sorted(n for n in set(spark) | set(oracle) if spark.get(n) != oracle.get(n))


# Which module a span's time belongs to, for spans that name no layer.
TRIGGER_PHASE_LAYER = {
    "latestOffset": "sources",
    "getBatch": "sources",
    "walCommit": "streaming",
    "queryPlanning": "plans",
    "addBatch": "streaming",
    "commitOffsets": "streaming",
}
TRIGGER_PHASE_ORDER = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                       "addBatch", "commitOffsets"]
# Among spans covering the same interval, the later one here is the child.
LAYER_RANK = ["bench", "streaming", "sources", "plans", "api", "sink", "operators"]


def trigger_spans(progress):
    """Spans of micro-batches from progress events: the trigger, and its
    duration phases laid out in the order the engine runs them."""
    spans = []
    for p in progress:
        d = p["durations"]
        start = p["start_ms"]
        end = start + d.get("triggerExecution", 0)
        spans.append({"name": f"trigger {p['batch']}", "layer": "streaming",
                      "start": start, "end": end})
        t = start
        for phase in TRIGGER_PHASE_ORDER:
            if phase in d:
                s, t = t, min(end, t + d[phase])
                spans.append({"name": phase, "layer": TRIGGER_PHASE_LAYER[phase],
                              "start": s, "end": t})
    return spans


def self_times(spans, start, end):
    """Split [start, end] among layers: each instant goes to the deepest
    span covering it (depth = number of spans containing it; equal
    intervals ordered by LAYER_RANK; ties to the span that started last).
    Instants no span covers go to "bench". The shares sum to end - start."""
    sp = []
    for s in spans:
        a, b = max(start, s["start"]), min(end, s["end"])
        if b > a:
            sp.append((a, b, s["layer"]))
    rank = {l: i for i, l in enumerate(LAYER_RANK)}

    def contains(c, s):
        if c[0] <= s[0] and c[1] >= s[1]:
            if (c[0], c[1]) != (s[0], s[1]):
                return True
            return rank.get(c[2], 0) < rank.get(s[2], 0)
        return False

    order = sorted(range(len(sp)), key=lambda i: (sp[i][0], -sp[i][1]))
    depth = [0] * len(sp)
    for pos, i in enumerate(order):
        # only spans starting no later than sp[i] can contain it
        depth[i] = sum(1 for j in order[:pos] if contains(sp[j], sp[i])) + sum(
            1 for j in order[pos + 1:] if sp[j][0] == sp[i][0] and contains(sp[j], sp[i]))
    events = sorted({start, end} | {x for s in sp for x in s[:2]})
    by_start = sorted(range(len(sp)), key=lambda i: sp[i][0])
    heap, k, out = [], 0, {}
    for a, b in zip(events, events[1:]):
        while k < len(by_start) and sp[by_start[k]][0] <= a:
            i = by_start[k]
            heapq.heappush(heap, (-depth[i], -sp[i][0], i))
            k += 1
        while heap and sp[heap[0][2]][1] <= a:
            heapq.heappop(heap)
        layer = sp[heap[0][2]][2] if heap else "bench"
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
