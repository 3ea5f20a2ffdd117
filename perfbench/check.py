"""Output checkers. Each returns None for a correct output, or a one-line
reason it is wrong; the workloads count a wrong output as failed.

The checkers are independent of the code under test: /records responses
are compared with DuckDB over the same generated parquet (the registry's
``NESTED_CTE`` / ``_FLAT_COLS`` oracle form), the drain's sink with the
generator's planted set, and the curation outputs with a DuckDB +
Python twin of the registry's ``curate_corpus`` oracle, with the
registry's own ``semdedup`` oracle and with the generator's known
pixels. All of it runs outside the timed window.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

# The reference contract, restated rather than imported from the package,
# so that a change to the program's constants shows up as wrong answers.
MAX_RESPONSE_ROWS = 10_000
MAX_DURATION_MINUTES = 960
ID_FILTERS = {
    "contactId": ("contact_id", "contact_id_alt"),
    "agentId": ("agent_id", "agent_id_alt"),
    "tenantId": ("tenant_id", "tenant_id_alt"),
    "agentShiftId": ("agent_shift_id", "agent_shift_id_alt"),
}
ALLOWED = {"duration", "streamname", "contactId", "agentId", "serverName",
           "tenantId", "agentShiftId", "limit"}


def _parse_int(value: str) -> int | None:
    m = re.match(r"\s*([+-]?\d+)", value)
    return int(m.group(1)) if m else None


# records-api -----------------------------------------------------------------


class RecordsOracle:
    """DuckDB over the generated events table, nested-id projection
    materialized once."""

    def __init__(self, events_dir: str) -> None:
        import duckdb

        from kinesis_stream_reader_spark.registry._shared import _FLAT_COLS, NESTED_CTE

        self.cols = [c.strip() for c in _FLAT_COLS.split(",")]
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/*.parquet')"
        )
        self.con.execute(f"CREATE TABLE flat AS {NESTED_CTE} SELECT ts, {_FLAT_COLS} FROM nested")
        self.max_ts = self.con.execute("SELECT max(ts) FROM flat").fetchone()[0]

    def rows(self, query: dict) -> list[tuple]:
        dur = _parse_int(query["duration"]) if "duration" in query else None
        minutes = min(10 if dur is None else dur, MAX_DURATION_MINUTES)
        where, params = ["ts >= ?::TIMESTAMP - ?::INTEGER * INTERVAL 1 MINUTE"], [self.max_ts, minutes]
        for param, (col, alt) in ID_FILTERS.items():
            if query.get(param):
                v = _parse_int(query[param])
                if v is None:
                    return []  # parseInt NaN matches nothing
                where.append(f"({col} = ? OR {alt} = ?)")
                params += [v, v]
        if query.get("serverName"):
            where.append("lower(server_name) = ?")
            params.append(query["serverName"].lower())
        sql = f"SELECT {', '.join(self.cols)} FROM flat WHERE {' AND '.join(where)}"
        return self.con.execute(sql, params).fetchall()


def expected_envelope(query: dict) -> dict:
    return {
        "badRequest": True,
        "missingRequiredParams": [] if "streamname" in query else ["streamname"],
        "invalidParams": [p for p in query if p not in ALLOWED],
    }


def check_response(oracle: RecordsOracle, query: dict, status: int, body) -> str | None:
    if "streamname" not in query or any(p not in ALLOWED for p in query):
        if status != 400:
            return f"invalid request answered {status}"
        if body != expected_envelope(query):
            return f"wrong 400 envelope {body!r}"
        return None
    if status != 200 or not isinstance(body, list):
        return f"status {status}: {str(body)[:200]}"
    cap = min(int(query["limit"]), MAX_RESPONSE_ROWS) if "limit" in query else MAX_RESPONSE_ROWS
    try:
        got = Counter(tuple(row[c] for c in oracle.cols) for row in body)
    except (KeyError, TypeError):
        return "response rows lack the flat id columns"
    want = Counter(oracle.rows(query))
    if len(want) <= cap:
        return None if got == want else f"rows differ: got {len(body)}, want {len(want)}"
    if len(body) != cap:
        return f"capped response has {len(body)} rows, want {cap}"
    if got - want:
        return "capped response has rows outside the oracle set"
    return None


# ingest-curate: the KPL backlog -----------------------------------------------


def check_drain(sink_seq: list[int], expected: set) -> str | None:
    if len(sink_seq) != len(set(sink_seq)):
        return "sink holds duplicate records"
    if set(sink_seq) != expected:
        missing, extra = len(expected - set(sink_seq)), len(set(sink_seq) - expected)
        return f"sink differs from the planted set: {missing} missing, {extra} extra"
    return None


def check_parse_counts(n_rows: int, n_invalid: int, n_delivered: int, n_invalid_planted: int) -> str | None:
    if n_rows != n_delivered:
        return f"{n_rows} parsed records, want {n_delivered} (dropped aggregates)"
    if n_invalid != n_invalid_planted:
        return f"{n_invalid} INVALID JSON records, want {n_invalid_planted}"
    return None


# ingest-curate: the corpus ------------------------------------------------------

_GATE_SQL = r"""
WITH toks AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t
  FROM read_parquet('{path}')
  WHERE lang IN ('en', 'de')
), gated AS (
  SELECT doc_id, text, t FROM toks
  WHERE len(t) >= 30
    AND len(list_filter(t, x -> x IN ('the','a','of','and')))::DOUBLE / len(t) <= 0.5
), exact AS (
  SELECT doc_id, t,
         MIN(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS canonical
  FROM gated
)
SELECT doc_id, t FROM exact WHERE doc_id = canonical ORDER BY doc_id
"""


def _grams(toks: list[str]) -> set[str]:
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def near_dup_pairs(survivors: dict[int, list[str]], threshold: float = 0.8) -> set[tuple[int, int]]:
    """All (a, b), a < b, whose distinct 3-gram sets have Jaccard >=
    threshold; candidates are pairs sharing at least one gram, which
    every qualifying pair does, so the result equals the all-pairs one."""
    grams = {d: _grams(t) for d, t in survivors.items()}
    postings: dict[str, list[int]] = {}
    for d, gs in grams.items():
        for g in gs:
            postings.setdefault(g, []).append(d)
    candidates = {
        (a, b) for docs in postings.values() for i, a in enumerate(docs) for b in docs[i + 1 :]
    }
    out = set()
    for a, b in candidates:
        a, b = min(a, b), max(a, b)
        ga, gb = grams[a], grams[b]
        if ga and gb and len(ga & gb) / len(ga | gb) >= threshold:
            out.add((a, b))
    return out


def curate_oracle(documents_path: str) -> tuple[set[int], dict[int, list[str]], set]:
    """The registry's curate_corpus oracle semantics (gates, language,
    md5 exact-dup canonical, 3-gram Jaccard >= 0.8 near-dup pairs,
    min-id connected components): gates and exact dedup in DuckDB, the
    pair step through a gram inverted index instead of all pairs.
    Returns (curated ids, survivor tokens, near-dup pairs)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    survivors = dict(con.execute(_GATE_SQL.format(path=documents_path)).fetchall())
    pairs = near_dup_pairs(survivors)
    parent = {d: d for d in survivors}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {d for d in survivors if find(d) == d}, survivors, pairs


def expected_manifest(curated: set[int], toks: dict[int, list[str]],
                      chunk_tokens: int = 64, stride: int = 48,
                      bin_tokens: int = 512, n_shards: int = 16) -> list[tuple]:
    """plans.training.training_batches' packing arithmetic over the
    oracle's curated ids: (shard, bin_id, n_chunks, n_docs, n_tokens)."""
    shards: dict[int, list[tuple[int, int]]] = {}
    for d in sorted(curated):
        n = len(toks[d])
        n_chunks = 1 + math.ceil(max(0, n - chunk_tokens) / stride)
        for c in range(n_chunks):
            size = len(toks[d][c * stride : c * stride + chunk_tokens])
            shards.setdefault(d % n_shards, []).append((d, size))
    bins: dict[tuple[int, int], list] = {}
    for shard, chunks in shards.items():
        cum = 0
        for d, size in chunks:
            cum += size
            b = bins.setdefault((shard, (cum - size) // bin_tokens), [0, set(), 0])
            b[0] += 1
            b[1].add(d)
            b[2] += size
    return sorted((s, b, v[0], len(v[1]), v[2]) for (s, b), v in bins.items())


def check_manifest(rows: list[tuple], expected: list[tuple]) -> str | None:
    got = sorted(tuple(int(x) for x in r) for r in rows)
    if got != expected:
        return f"training manifest differs: {len(got)} bins, want {len(expected)}"
    return None


def phash(arr: np.ndarray, grid: int = 8) -> int:
    """Average hash of known pixels: integer gray, nearest-neighbour
    grid x grid cells, bit p set iff cell * n_cells > sum (bits 0..62)."""
    a = arr.astype(np.int64)
    gray = a.sum(axis=2) // 3
    ys = (np.arange(grid) * a.shape[0]) // grid
    xs = (np.arange(grid) * a.shape[1]) // grid
    cells = gray[ys][:, xs].ravel()
    total, n = int(cells.sum()), grid * grid
    return sum(1 << p for p, c in enumerate(cells[:63]) if int(c) * n > total)


def check_images(feats: list[tuple], hashes: list[tuple], images: dict) -> str | None:
    if sorted(r[0] for r in feats) != sorted(images) or sorted(r[0] for r in hashes) != sorted(images):
        return "decoded image ids differ from the documents"
    for doc_id, w, h, ch, mean in feats:
        arr = images[doc_id]
        want = (arr.shape[1], arr.shape[0], arr.shape[2], round(float(arr.mean()), 4))
        if (w, h, ch, mean) != want:
            return f"doc {doc_id}: decoded {(w, h, ch, mean)}, want {want}"
    for doc_id, ph in hashes:
        if ph != phash(images[doc_id]):
            return f"doc {doc_id}: phash {ph} differs from the known pixels"
    return None


def semdedup_oracle(embeddings_path: str) -> dict[int, tuple[int, bool]]:
    """The registry's own DuckDB ``semdedup`` oracle over the generated
    embeddings: vec_id -> (cluster, kept)."""
    import duckdb

    import kinesis_stream_reader_spark.registry  # noqa: F401  (registers every oracle)
    from kinesis_stream_reader_spark.registry import ORACLES

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{embeddings_path}')")
    return {v: (c, k) for v, c, k in con.execute(ORACLES["semdedup"]).fetchall()}


def check_semdedup(rows: list[tuple], oracle: dict[int, tuple[int, bool]],
                   emb_dups: list[int]) -> str | None:
    ids = [r[0] for r in rows]
    if sorted(ids) != sorted(oracle):
        return "semdedup does not return every vector exactly once"
    got = {r[0]: (r[1], r[2]) for r in rows}
    if any(got[d][1] for d in emb_dups):
        return "semdedup kept an exact embedding duplicate"
    wrong = [d for d in oracle if got[d] != oracle[d]]
    if wrong:
        d = wrong[0]
        return (f"semdedup differs from the oracle on {len(wrong)} vectors, e.g. "
                f"{d}: (cluster, kept) {got[d]}, want {oracle[d]}")
    return None
