"""Statistics and output checks of the benchmark, kept free of Spark so
they can be tested on their own (`python3 -m unittest discover -s perfbench/tests`).
"""
import hashlib
import math

STALL_RATIO = 1.5      # a sample this many times its query's minimum ...
STALL_FLOOR_S = 0.25   # ... and at least this far above it counts as a stall
TEN_BEYOND = 10        # a percentile is reported only with this many samples beyond it


def percentile(xs, q):
    """Linear-interpolated percentile, `q` in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 0.5)


def beyond(n, q):
    """Number of samples above the q-th percentile of n samples."""
    return n - 1 - math.floor((n - 1) * q)


def reportable(n, q):
    """The percentile rule: at least ten samples lie beyond the percentile."""
    return n > 0 and beyond(n, q) >= TEN_BEYOND


def account(ops):
    """Failure accounting over operation records. A failed operation
    counts as attempted and failed, is listed by name, and contributes no
    timing sample, whatever fields it carries."""
    ok = [o for o in ops if o.get("ok")]
    failed = [o for o in ops if not o.get("ok")]
    return {
        "attempted": len(ops),
        "failed": len(failed),
        "failed_names": sorted({o["name"] for o in failed}),
        "samples": [o["lat_s"] for o in ok],
        "fail_frac": len(failed) / len(ops) if ops else 0.0,
    }


def geomean_of_percentiles(ops, q=0.5):
    """Geometric mean over operation names of each name's q-th percentile
    latency (ms) over its completed runs: a typical latency of a mix of
    operations whose costs differ, which a pooled percentile would not
    give steadily (it jumps between operations from run to run)."""
    by = {}
    for o in ops:
        if o.get("ok"):
            by.setdefault(o["name"], []).append(o["lat_s"] * 1e3)
    logs = [math.log(percentile(xs, q)) for xs in by.values()]
    return math.exp(sum(logs) / len(logs))


def stalls(ops):
    """Samples at least STALL_RATIO times their operation's minimum and at
    least STALL_FLOOR_S seconds above it; the floor keeps ordinary jitter
    on sub-second queries from reading as a stall."""
    by = {}
    for o in ops:
        if o.get("ok"):
            by.setdefault(o["name"], []).append(o["lat_s"])
    n = 0
    for xs in by.values():
        m = min(xs)
        n += sum(1 for x in xs if x >= STALL_RATIO * m and x - m >= STALL_FLOOR_S)
    return n


# ---------------------------------------------------------------- digests

# The canonical row rendering is the one `tools/compare.py` (`canon`)
# uses to match engine results against DuckDB; change both together.
def canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_digest(columns, rows):
    """Order-insensitive digest of a result: columns sorted by name, each
    row rendered canonically, rows sorted before hashing."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()[:16]


# --------------------------------------------------------- corpus model
#
# An independent account of what `CorpusPipeline.clean` must keep of a
# generated corpus, from the generator's own record of the copies it
# planted. Generated texts are lower-case vocabulary words separated by
# single spaces: no digits, punctuation, PII or repeated lines, so the
# redacted text is the text and the line-repetition gate never fires.

MIN_QUALITY = 0.65          # CorpusPipeline.clean defaults
MAX_TOP_BIGRAM_FRAC = 0.20
DECONTAMINATE_WIDTH = 8
QUALITY_SLACK = 1e-6        # a score this close to the gate may round either way
NEAR_MISS_SLACK = 2         # planted near copies MinHash may fail to pair, per run


def quality(text):
    """TextOps.qualityScore before its rounding, in the same order of
    floating-point operations."""
    n = len(text)
    alpha = sum(c.isascii() and c.isalpha() for c in text)
    punct = sum(c in ".,;:!?" for c in text)
    words = len(text.split())
    len_score = min(n / 500.0, 1.0)
    alpha_ratio = alpha / n if n > 0 else 0.0
    punct_penalty = min(punct / n * 10.0, 1.0) if n > 0 else 0.0
    word_score = min((alpha / words if words > 0 else 0.0) / 8.0, 1.0)
    return len_score * 0.3 + alpha_ratio * 0.4 + (1.0 - punct_penalty) * 0.1 + word_score * 0.2


def top_bigram_frac(text):
    toks = text.lower().split()
    if len(toks) < 2:
        return 0.0
    counts = {}
    for bi in zip(toks, toks[1:]):
        counts[bi] = counts.get(bi, 0) + 1
    return max(counts.values()) / (len(toks) - 1)


def ngrams(text, n):
    toks = text.lower().split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def chunk_windows(ntok, max_tokens, overlap):
    """Token counts of TextOps.chunkByTokens' windows of a document."""
    out, s = [], 0
    while s < ntok:
        e = min(s + max_tokens, ntok)
        out.append(e - s)
        if e == ntok:
            break
        s += max_tokens - overlap
    return out


def corpus_expected(planted):
    """The survivors the pipeline must keep, from the generator's record
    (`ids`, `texts`, `parents`, `bench`). A lineage is a planted original
    with all its exact and near copies; its members share the original's
    text, so they are pairwise near duplicates and share 8-grams.
    - gate: quality >= MIN_QUALITY and top bigram share <= MAX_TOP_BIGRAM_FRAC
    - exact and near dedup: of a lineage's gated members, the lowest id
    - decontamination: no shared 8-gram with a benchmark text
    Returns (expected survivor ids, lineage of each id, ids of lineages
    with a member scored within QUALITY_SLACK of the gate)."""
    ids, texts, parents = planted["ids"], planted["texts"], planted["parents"]
    text_of = dict(zip(ids, texts))
    root = {}
    for i, p in zip(ids, parents):  # a copy's source always comes earlier
        root[i] = root[p] if p >= 0 else i
    unsure = set()
    kept = {}
    for i, t in zip(ids, texts):
        q = quality(t)
        if abs(q - MIN_QUALITY) < QUALITY_SLACK:
            unsure.add(root[i])
        if q >= MIN_QUALITY and top_bigram_frac(t) <= MAX_TOP_BIGRAM_FRAC:
            kept[root[i]] = min(kept.get(root[i], i), i)
    bench = set()
    for b in planted["bench"]:
        bench |= ngrams(b, DECONTAMINATE_WIDTH)
    expect = {i for i in kept.values() if not ngrams(text_of[i], DECONTAMINATE_WIDTH) & bench}
    return expect, root, unsure


def corpus_output_check(planted, run, max_tokens, overlap):
    """Problems with one clean + chunkAndPack run against the
    generator's record; an empty list means the output is right.
    `run` holds the survivor ids and the pack's row and token totals."""
    expect, root, unsure = corpus_expected(planted)
    text_of = dict(zip(planted["ids"], planted["texts"]))
    got = set(run["survivor_ids"])
    bad = []
    unknown = sorted(got - set(text_of))
    if unknown:
        return [f"survivors not in the corpus: {unknown[:5]}"]
    texts = [text_of[i] for i in got]
    if len(set(texts)) != len(texts):
        bad.append(f"{len(texts) - len(set(texts))} survivors repeat another survivor's text")
    bench = set()
    for b in planted["bench"]:
        bench |= ngrams(b, DECONTAMINATE_WIDTH)
    leaked = sorted(i for i in got if ngrams(text_of[i], DECONTAMINATE_WIDTH) & bench)
    if leaked:
        bad.append(f"{len(leaked)} survivors share an 8-gram with the benchmark: {leaked[:5]}")
    missing = sorted(i for i in expect - got if root[i] not in unsure)
    if missing:
        bad.append(f"{len(missing)} of {len(expect)} expected survivors dropped: {missing[:5]}")
    extra = [i for i in got - expect if root[i] not in unsure]
    near_kept = [i for i in extra if root[i] in {root[j] for j in expect}]
    stray = sorted(set(extra) - set(near_kept))
    if stray:
        bad.append(f"{len(stray)} survivors that the gates or decontamination drop: {stray[:5]}")
    if len(near_kept) > NEAR_MISS_SLACK:
        bad.append(f"{len(near_kept)} planted near copies survive next to their source "
                   f"(at most {NEAR_MISS_SLACK}): {sorted(near_kept)[:5]}")
    windows = [w for i in got for w in chunk_windows(len(text_of[i].split()), max_tokens, overlap)]
    if (run["packed_rows"], run["packed_ntok"]) != (len(windows), sum(windows)):
        bad.append(f"pack holds {run['packed_rows']} chunks of {run['packed_ntok']} tokens, "
                   f"survivors make {len(windows)} of {sum(windows)}")
    return bad


# ------------------------------------------------------------- open loop

def batch_latencies(batches, appends):
    """Latency of each micro-batch that consumed data: from the due time
    of the newest event it consumed (the last append up to its end
    offset) to its commit (trigger start + trigger duration). Because
    the schedule, not the send, sets the due time, a stall counts
    against every event that waited behind it."""
    due_by_offset = {a["offset"]: a for a in appends}
    out = []
    for b in batches:
        if b["rows"] <= 0 or b["end_offset"] == "":
            continue
        a = due_by_offset[int(b["end_offset"])]
        commit_us = (b["start_ms"] + b["trigger_ms"]) * 1000
        out.append({"query": b["query"], "batch": b["batch"], "part": a["part"], "step": a["step"],
                    "start_ms": b["start_ms"], "rows": b["rows"],
                    "lat_ms": (commit_us - a["max_due_us"]) / 1000.0})
    return out


def burst_capacity(batches, appends, burst_step):
    """Events per second at which micro-batches process a burst (all its
    events due at one instant, after a quiet gap): for each burst and each
    query, the burst's size over the trigger time of the first batch that
    consumed it; the median over the bursts per query, then the geometric
    mean over the queries. The queries differ in cost, so a pooled median
    would fall in the gap between them and jump from run to run."""
    by_query = {}
    for a in appends:
        if a["part"] != 1 or a["step"] != burst_step:
            continue
        seen = set()
        for b in sorted(batches, key=lambda b: b["start_ms"]):
            if (b["rows"] > 0 and b["end_offset"] != "" and int(b["end_offset"]) >= a["offset"]
                    and b["query"] not in seen):
                seen.add(b["query"])
                by_query.setdefault(b["query"], []).append(a["rows"] / (b["trigger_ms"] / 1e3))
    logs = [math.log(median(xs)) for xs in by_query.values()]
    return math.exp(sum(logs) / len(logs))


def generator_lag_ms(appends):
    """Mean delay of a send after its due time, over all events sent."""
    rows = sum(a["rows"] for a in appends)
    return sum(a["lag_us_sum"] for a in appends) / rows / 1000.0 if rows else 0.0


def backlog_growing(lats):
    """A step's backlog grows when its last quarter of batches waits
    clearly longer than its first quarter."""
    if len(lats) < 8:
        return False
    q = len(lats) // 4
    first, last = median(lats[:q]), median(lats[-q:])
    return last > 1.5 * first + 50.0


def step_sustained(lats, limit_ms):
    return percentile(lats, 0.9) <= limit_ms and not backlog_growing(lats)
