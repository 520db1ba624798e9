"""Output checks: DuckDB answers for KQL ops, invariants for the rest.

Every check returns None when the op's output is right, or a one-line
reason when it is wrong. Nothing here runs inside the timed phase.
"""
import datetime as dt
import decimal
import math
import re

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
WS = re.compile(r"\s+", re.ASCII)   # Java's \s
DEDUP_THRESHOLD = 0.8                 # dedupIncremental's default, as the harness calls it


def norm(v):
    """DuckDB value → the harness's JSON encoding (datetimes as epoch µs)."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return v


def same(a, b):
    """Value equality with a float tolerance of one unit in the 4th
    decimal (both engines round to 4 places) or 1e-9 relative."""
    if isinstance(a, bool) or isinstance(b, bool):
        return type(a) is type(b) and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= max(1.5e-4, 1e-9 * max(abs(a), abs(b)))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(got, want):
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns != {len(w)}"
        for j, (x, y) in enumerate(zip(g, w)):
            if not same(x, y):
                return f"row {i} col {j}: {x!r} != {y!r}"
    return None


class Oracle:
    def __init__(self, data_dir, tables):
        self.con = duckdb.connect(config={"threads": 2})
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._answers = {}

    def answer(self, sql):
        if sql not in self._answers:
            self._answers[sql] = [[norm(v) for v in row] for row in self.con.execute(sql).fetchall()]
        return self._answers[sql]

    def scalar(self, sql):
        return self.con.execute(sql).fetchone()[0]

    # ------------------------------------------------------------ kql ops

    def check_kql(self, op, result):
        return compare_rows(result, self.answer(op["sql"]))

    # ------------------------------------------------------------ llm ops

    def check_llm(self, op, result, history):
        """`history` is the ordered list of llm ops already checked in this
        run (for the incremental-dedup invariant)."""
        stage, lo, hi = op["stage"], op["doc_lo"], op["doc_hi"]
        where = f"doc_id >= {lo} AND doc_id < {hi}"
        if stage == "dedup_exact":
            want = self.scalar(f"SELECT COUNT(DISTINCT lower(trim(text))) FROM documents WHERE {where}")
            return None if result["rows"] == want else f"keep count {result['rows']} != {want}"
        if stage == "quality_score":
            want = self.scalar(f"SELECT COUNT(*) FROM documents WHERE {where}")
            return None if result["rows"] == want else f"rows {result['rows']} != {want}"
        if stage in ("knn_cosine", "ivf_probe"):
            ids = result["ids"]
            if len(ids) != op["k"]:
                return f"{len(ids)} neighbours, asked for {op['k']}"
            return None if ids[0] == op["query_id"] else f"top-1 {ids[0]} != query {op['query_id']}"
        if stage == "dedup_incremental":
            return self._check_incremental(op, result["kept"], history)
        return None

    def _check_incremental(self, op, kept, history):
        lo, hi = op["doc_lo"], op["doc_hi"]
        if any(not lo <= k < hi for k in kept) or len(set(kept)) != len(kept):
            return "kept ids outside the batch or repeated"
        # what the index holds: the cycle's base build plus every append
        # since — an exact duplicate of any of those must be dropped, and
        # so must the higher id of an exact duplicate pair inside the batch
        indexed = []
        for h in history:
            if h["stage"] == "minhash_index_build":
                indexed = [(h["doc_lo"], h["doc_hi"])]
            elif h["stage"] == "minhash_index_append":
                indexed.append((h["doc_lo"], h["doc_hi"]))
        if not indexed:
            return "incremental dedup ran before any index build"
        in_index = " OR ".join(f"(doc_id >= {a} AND doc_id < {b})" for a, b in indexed)
        if kept:
            key = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
            bad = self.scalar(f"""
                WITH k AS (SELECT doc_id, {key} AS t FROM documents WHERE doc_id IN ({', '.join(map(str, kept))})),
                     ix AS (SELECT DISTINCT {key} AS t FROM documents WHERE {in_index}),
                     b AS (SELECT doc_id, {key} AS t FROM documents WHERE doc_id >= {lo} AND doc_id < {hi})
                SELECT COUNT(*) FROM k WHERE t IN (SELECT t FROM ix)
                   OR EXISTS (SELECT 1 FROM b WHERE b.t = k.t AND b.doc_id < k.doc_id)""")
            if bad:
                return f"{bad} kept docs are exact duplicates"
        # no false drops: a dropped doc must reach the threshold of exact
        # token-set Jaccard against an indexed doc or a lower-id batch doc
        index = [t for _, t in self._token_sets(in_index)]
        batch = self._token_sets(f"doc_id >= {lo} AND doc_id < {hi}")
        kept = set(kept)
        for i, (d, t) in enumerate(batch):
            if d in kept:
                continue
            if not any(jaccard(t, u) >= DEDUP_THRESHOLD for u in index + [u for _, u in batch[:i]]):
                return f"doc {d} dropped with no partner at Jaccard >= {DEDUP_THRESHOLD}"
        return None

    def _token_sets(self, where):
        """(doc_id, token set) in id order, tokenized as LlmOps does:
        lower case, split on whitespace runs, distinct tokens."""
        rows = self.con.execute(f"SELECT doc_id, text FROM documents WHERE {where} ORDER BY doc_id").fetchall()
        return [(d, frozenset(WS.split((t or "").lower()))) for d, t in rows]


def jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_stream(op, result, fed):
    """`fed` maps stream name → list of event batches already fed (each a
    list of (ts_us, event_type, value, event_id, user_id)); it includes
    this op's batch. A feed op's own check is only that the query
    committed the batch; what the query made of it is check_sinks'."""
    if op["stream"] == "matview_read":
        events = [e for b in fed.get("tumbling_matview", []) for e in b]
        return compare_rows(result, tumbling_recompute(events))
    want = sum(len(b) for b in fed[op["stream"]][-1:])
    if op["stream"] == "join":
        want += sum(len(b) for b in fed["join_r"][-1:])
    got = result["input_rows"]
    return None if got == want else f"committed {got} input rows, fed {want}"


def tumbling_recompute(events, window_us=600_000_000):
    """Batch recompute of the 10-minute tumbling view: one row per
    (window start, event type) with count, value sum and (for the read
    path's n_updates) no claim — the stream's n_updates is skipped."""
    agg = {}
    for ts, et, v, *_ in events:
        k = (ts - ts % window_us, et)
        n, s = agg.get(k, (0, 0.0))
        agg[k] = (n + 1, s + v)
    return [[k[0], k[1], n, s] for k, (n, s) in sorted(agg.items())]


HOUR_US = 3_600_000_000
GAP_US = 300_000_000        # the session gap and the session stream's watermark delay
JOIN_US = 600_000_000       # the join's r_ts <= ts + 10 minutes


def check_sinks(sinks, fed, min_value):
    """What each stream's memory sink holds after the run against a
    batch recompute over every batch fed. Returns {stream: reason} for
    the streams whose sink is wrong."""
    if "error" in sinks:
        return {s: sinks["error"] for s in ("kql_bin", "session", "dedup", "join")}
    bad = {}
    events = {s: [e for b in fed.get(s, []) for e in b] for s in ("kql_bin", "session", "dedup", "join", "join_r")}

    # where value > min | summarize n, s by bin(ts, 1h), event_type, in
    # update mode: a key's rows grow with each batch; its last (largest
    # n) row must equal the recompute, and the n sum to the events kept
    want = {}
    for ts, et, v, *_ in events["kql_bin"]:
        if v > min_value:
            k = (ts - ts % HOUR_US, et)
            n, sm = want.get(k, (0, 0.0))
            want[k] = (n + 1, sm + v)
    last = {}
    for w, et, n, sm in sinks["kql_bin"]:
        if n > last.get((w, et), (0, 0.0))[0]:
            last[(w, et)] = (n, sm)
    kept = sum(n for n, _ in want.values())
    if sum(n for n, _ in last.values()) != kept:
        bad["kql_bin"] = f"window counts sum to {sum(n for n, _ in last.values())}, {kept} events kept"
    else:
        why = compare_rows([[*k, *v] for k, v in sorted(last.items())],
                           [[*k, *v] for k, v in sorted(want.items())])
        if why:
            bad["kql_bin"] = why

    # dedup by event_id: every id fed, once
    got = sinks["dedup"]
    ids = {e[3] for e in events["dedup"]}
    if len(got) != len(set(got)) or set(got) != ids:
        bad["dedup"] = f"{len(got)} rows, {len(set(got))} ids; fed {len(ids)} distinct ids"

    # sessions per user, 5-minute gap, emitted once the watermark passes
    # their end. Each emitted row must be a recomputed session; every
    # session that ended before the watermark the stream last reported
    # (less a millisecond: the watermark is rounded to it) must have
    # been emitted.
    by_user = {}
    for ts, _, _, _, u in events["session"]:
        by_user.setdefault(u, []).append(ts)
    sessions = set()
    for u, tss in by_user.items():
        tss.sort()
        start = prev = tss[0]
        n = 1
        for t in tss[1:]:
            if t < prev + GAP_US:
                n += 1
            else:
                sessions.add((u, start, prev + GAP_US, n))
                start, n = t, 1
            prev = t
        sessions.add((u, start, prev + GAP_US, n))
    got = [tuple(r) for r in sinks["session"]]
    wm = (sinks["session_watermark"] or 0) - 1000
    missing = [x for x in sessions if x[2] < wm and x not in set(got)]
    if len(got) != len(set(got)) or not set(got) <= sessions:
        bad["session"] = f"{len(set(got) - sessions)} emitted sessions differ from the recompute"
    elif missing:
        bad["session"] = f"{len(missing)} sessions closed by the watermark never emitted"

    # inner join on user, r_ts within [ts, ts + 10 minutes]
    right = {}
    for ts, _, _, _, u in events["join_r"]:
        right.setdefault(u, []).append(ts)
    want = sorted((u, ts, rt) for ts, _, _, _, u in events["join"] for rt in right.get(u, [])
                  if ts <= rt <= ts + JOIN_US)
    got = sorted(tuple(r) for r in sinks["join"])
    if got != want:
        bad["join"] = f"{len(got)} joined rows, recompute has {len(want)}"
    return bad
