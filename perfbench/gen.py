"""Seeded inputs for the workloads: the events table and request schedule,
the KPL backlog and the corpus.

Every input is a pure function of the seed: the same seed writes
byte-identical files and the same request schedule, a different seed
changes them. The generators also return what they planted (expected
row sets, dropped aggregates, duplicate pairs, pixel arrays), which the
checkers in ``check.py`` compare the program's outputs against.

Sizes are module constants so the benchmark's own tests can shrink them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500

# records-api ---------------------------------------------------------------

EVENTS_ROWS = 150_000
EVENTS_SPAN_MINUTES = 3_000  # > 3 x the 960-minute clamp
EVENTS_FILES = 4
SCHEDULE_LEN = 1024
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_events(seed: int, out_dir: str, n_rows: int = EVENTS_ROWS) -> str:
    """Flat `events` table in the fixture schema (event_id, ts, user_id,
    event_type, value, props), time-ordered over EVENTS_SPAN_MINUTES and
    split into EVENTS_FILES files. Returns the table directory
    (``<out_dir>/events.parquet``), which ``sources.tables.load_events``
    and DuckDB both read."""
    rng = np.random.default_rng([seed, 1])
    span_us = EVENTS_SPAN_MINUTES * 60 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_rows)) + T0_US
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n_rows)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_rows)]),
            "value": pa.array(np.round(rng.random(n_rows) * 100, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )
    path = os.path.join(out_dir, "events.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-n_rows // EVENTS_FILES)
    for i in range(EVENTS_FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=step // 2,
        )
    return path


def _id_value(rng, kind: str) -> str:
    if kind == "contactId":
        return str(int(rng.integers(0, 500)))
    if kind == "agentId":
        u = int(rng.integers(0, N_USERS))
        return str(u * 10 if rng.random() < 0.5 else u + 500)
    if kind == "tenantId":
        u = int(rng.integers(0, N_USERS))
        return str(u if rng.random() < 0.5 else u + 1000)
    return str(int(rng.integers(0, 60)))  # agentShiftId


def _mixed_case(rng, s: str) -> str:
    flips = rng.random(len(s)) < 0.5
    return "".join(c.upper() if f else c.lower() for c, f in zip(s, flips))


# One block of 20 request templates in a fixed order: every window,
# however short, sees the same mix, window sizes and order; the seed
# draws the id values, the serverName spelling and the small limits
# (ordering the block by seed spread the closed-loop rate by ~10%
# between seeds on one host). 10% invalid, 15%
# wide (unfiltered 960-minute windows, 5000 is clamped; no limit means
# the 10k-row ceiling), 75% selective (duration, id filters, serverName?,
# small limit?). Only the categories and the ~10% invalid share come
# from the reference's parameter space; the 2/3/15 split, the durations
# and the limits are assumed (no reference traffic exists to measure),
# and records-api figures hold for this mix only.
WIDE = ((960, 2000), (5000, 0), (960, 5000))
SELECTIVE = (
    (10, ("contactId",), False, False),
    (30, ("agentId",), False, False),
    (60, ("tenantId",), True, False),
    (120, ("agentShiftId",), False, True),
    (240, ("contactId", "tenantId"), False, False),
    (480, ("agentId", "agentShiftId"), False, False),
    (960, ("tenantId",), False, False),
    (1500, ("contactId",), True, False),
    (10, ("agentShiftId",), False, False),
    (60, ("contactId", "agentId"), False, True),
    (240, ("tenantId", "agentShiftId"), False, False),
    (960, ("agentId",), True, False),
    (1500, ("tenantId", "contactId"), False, True),
    (30, ("contactId",), False, False),
    (120, ("agentId", "tenantId"), False, False),
)


# where the invalid (I) and wide (W) templates sit among the selective (S)
BLOCK_ORDER = "SSWSSISSWSSSSWSSISSS"


def _block(rng) -> list[dict]:
    invalid = [
        {"kind": "invalid",  # no streamname
         "query": {"duration": "60", "contactId": _id_value(rng, "contactId")}},
        {"kind": "invalid", "query": {"streamname": "events", "shard": "0"}},  # unknown param
    ]
    wide = []
    for dur, limit in WIDE:
        q = {"streamname": "events", "duration": str(dur)}
        if limit:
            q["limit"] = str(limit)
        wide.append({"kind": "wide", "query": q})
    selective = []
    nan = int(rng.integers(0, len(SELECTIVE)))  # one parseInt-NaN filter value
    for i, (dur, ids, server, limit) in enumerate(SELECTIVE):
        q = {"streamname": "events", "duration": str(dur)}
        for name in ids:
            q[name] = "abc" if i == nan and name == ids[0] else _id_value(rng, name)
        if server:
            q["serverName"] = _mixed_case(rng, "server-" + str(rng.choice(EVENT_TYPES)))
        if limit:
            q["limit"] = str(int(rng.integers(1, 200)))
        selective.append({"kind": "selective", "query": q})
    kinds = {"I": iter(invalid), "W": iter(wide), "S": iter(selective)}
    return [next(kinds[k]) for k in BLOCK_ORDER]


def request_schedule(seed: int, n: int = SCHEDULE_LEN) -> list[dict]:
    """The seeded /records request mix. Each entry is a query dict plus
    the kind it was drawn as: ``invalid`` (missing streamname or an
    unknown parameter, expects 400), ``wide`` or ``selective``."""
    rng = np.random.default_rng([seed, 2])
    out: list[dict] = []
    while len(out) < n:
        out.extend(_block(rng))
    return out[:n]


# ingest-curate: the KPL backlog -----------------------------------------------

KPL_USER_RECORDS = 30_000
KPL_SHARDS = 4
KPL_AGG_SIZE = 50
KPL_SERVERS = ("Server-A", "Server-B", "Server-C", "Server-D")
KPL_TENANTS = 20
CONTACT_EVENT = "com.incontact.datainfra.events.ContactEvent"
AGENT_EVENT = "com.incontact.datainfra.events.AgentEvent"


@dataclass
class KplInputs:
    shard_dir: str
    query: dict  # the drain's filter_records params
    n_wire: int
    n_user_delivered: int  # user records that survive de-aggregation
    n_invalid_json: int  # of those, payloads that are not JSON
    n_dropped_aggregates: int
    expected_seq: set = field(default_factory=set)  # sink sequence numbers


def _long(v):
    return None if v is None else {"long": int(v)}


def _event_json(rng, seq: int) -> tuple[bytes, str, int, int | None]:
    tid = int(rng.integers(0, KPL_TENANTS))
    tid_alt = None if rng.random() < 0.2 else (tid + 3) % KPL_TENANTS
    server = KPL_SERVERS[int(rng.integers(0, len(KPL_SERVERS)))]
    if rng.random() < 0.6:
        c = int(rng.integers(0, 10_000))
        body = {
            CONTACT_EVENT: {
                "mediaScopeIdentification": {
                    "contactIdentification": {
                        "contactId": _long(c),
                        "contactIdAlt": _long(c + 1),
                    }
                }
            }
        }
    else:
        a = int(rng.integers(0, 1_000))
        body = {
            AGENT_EVENT: {
                "agentShiftIdentification": {
                    "agentShiftId": _long(a % 60),
                    "agentShiftIdAlt": _long(a % 70),
                    "agentIdentification": {
                        "agentId": _long(a),
                        "agentIdAlt": None,
                    },
                }
            }
        }
    secs = seq // 10
    doc = {
        "event_time": f"2024-01-01T{secs // 3600 % 24:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}Z",
        "partition_key": f"pk-{seq % 97}",
        "sequence_number": seq,
        "tenantId": {
            "tenantId": _long(tid),
            "tenantIdAlt": _long(tid_alt),
            "serverName": {"string": server},
        },
        "baseEventData": body,
    }
    return json.dumps(doc, separators=(",", ":")).encode(), server, tid, tid_alt


def write_kpl_shards(seed: int, out_dir: str, n_user: int = KPL_USER_RECORDS) -> KplInputs:
    """Reference-shaped event JSON, ~90% KPL-aggregated 50 per aggregate
    (``ingest.kpl_encode``), the rest non-KPL passthrough; ~1% of the
    aggregates are corrupt (silently dropped by de-aggregation) and ~1%
    of the payloads are not JSON (land in ``INVALID JSON``). Wire
    records go round-robin to KPL_SHARDS recorded-wire shard files
    (``python_source.write_shard_file``)."""
    from kinesis_stream_reader_spark.operators.ingest import kpl_encode
    from kinesis_stream_reader_spark.sources.python_source import write_shard_file

    rng = np.random.default_rng([seed, 3])
    server = KPL_SERVERS[int(rng.integers(0, len(KPL_SERVERS)))]
    tenant = int(rng.integers(0, KPL_TENANTS))
    query = {"serverName": _mixed_case(rng, server), "tenantId": str(tenant)}

    payloads, matches = [], []
    for seq in range(n_user):
        if rng.random() < 0.01:
            payloads.append(b'{"sequence_number": %d, "tenantId": {' % seq)
            matches.append(None)  # invalid JSON
            continue
        blob, srv, tid, tid_alt = _event_json(rng, seq)
        payloads.append(blob)
        matches.append(srv == server and tenant in (tid, tid_alt))

    wire: list[bytes] = []
    delivered = invalid = dropped = 0
    expected = set()
    for start in range(0, n_user, KPL_AGG_SIZE):
        chunk = range(start, min(start + KPL_AGG_SIZE, n_user))
        if rng.random() < 0.9:
            blob = kpl_encode([payloads[i] for i in chunk], partition_key=f"pk-{start}")
            if rng.random() < 0.01:
                # a record field whose length runs past the body: the
                # protobuf decode fails and the aggregate is dropped
                wire.append(blob[:-16] + b"\x1a\x7f" + blob[-16:])
                dropped += 1
                continue
            wire.append(blob)
        else:
            wire.extend(payloads[i] for i in chunk)
        for i in chunk:
            delivered += 1
            if matches[i] is None:
                invalid += 1
            elif matches[i]:
                expected.add(i)

    os.makedirs(out_dir, exist_ok=True)
    for s in range(KPL_SHARDS):
        write_shard_file(os.path.join(out_dir, f"shard-{s:04d}.jsonl"), wire[s::KPL_SHARDS])
    return KplInputs(
        shard_dir=out_dir,
        query=query,
        n_wire=len(wire),
        n_user_delivered=delivered,
        n_invalid_json=invalid,
        n_dropped_aggregates=dropped,
        expected_seq=expected,
    )


# ingest-curate: the corpus ---------------------------------------------------

CORPUS_DOCS = 1_000
EMBED_DIM = 32
IMAGE_SIDE = 16
STOPWORDS = ("the", "a", "of", "and")
VOCAB = tuple(f"w{i}" for i in range(400))


@dataclass
class CorpusInputs:
    data_dir: str  # holds documents.parquet, embeddings.parquet, media.parquet
    n_docs: int
    near_dup_pairs: list  # (original doc_id, edited copy doc_id)
    exact_dup_pairs: list
    images: dict  # doc_id -> (h, w, 3) uint8 pixels
    embedding_dups: list  # vec_ids whose vector repeats an earlier one


def _doc_tokens(rng, n: int, stop_share: float) -> list[str]:
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), n)].tolist()
    for i in np.flatnonzero(rng.random(n) < stop_share):
        words[i] = STOPWORDS[int(rng.integers(0, 4))]
    return words


def write_corpus(seed: int, out_dir: str, n_docs: int = CORPUS_DOCS) -> CorpusInputs:
    """`documents` rows in the fixture schema with planted exact and
    near duplicates (1-2 token substitutions in a >=100-token document)
    and a known share failing the quality gates (short, stopword-heavy,
    or an unselected language); a `media` table with one small RGB PNG
    per document, some shared; and an `embeddings` table in the fixture
    schema with some vectors repeated exactly."""
    from kinesis_stream_reader_spark.operators.multimodal import encode_png

    rng = np.random.default_rng([seed, 4])
    texts, langs = [], []
    clean: list[int] = []  # long, gate-passing originals to copy from
    near, exact = [], []
    for d in range(n_docs):
        r = rng.random()
        if clean and r < 0.05:
            src = clean[int(rng.integers(0, len(clean)))]
            texts.append(texts[src])
            langs.append(langs[src])
            exact.append((src, d))
            continue
        if clean and r < 0.10:
            src = clean[int(rng.integers(0, len(clean)))]
            words = texts[src].split(" ")
            for i in rng.choice(len(words), size=int(rng.integers(1, 3)), replace=False):
                words[i] = "edit" + str(int(rng.integers(0, 10**6)))
            texts.append(" ".join(words))
            langs.append(langs[src])
            near.append((src, d))
            continue
        lang = str(rng.choice(["en", "en", "en", "de", "fr", "es"]))
        if r < 0.15:
            words = _doc_tokens(rng, int(rng.integers(5, 29)), 0.1)  # too short
        elif r < 0.20:
            words = _doc_tokens(rng, int(rng.integers(40, 120)), 0.8)  # stopword-heavy
        else:
            words = _doc_tokens(rng, int(rng.integers(40, 200)), 0.1)
            if len(words) >= 100 and lang in ("en", "de") and r >= 0.2:
                clean.append(d)
        texts.append(" ".join(words))
        langs.append(lang)

    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )

    images: dict[int, np.ndarray] = {}
    blobs = []
    for d in range(n_docs):
        if d and rng.random() < 0.1:
            images[d] = images[int(rng.integers(0, d))]
        else:
            images[d] = rng.integers(0, 256, (IMAGE_SIDE, IMAGE_SIDE, 3), dtype=np.uint8)
        blobs.append(encode_png(images[d]))
    media = pa.table({"doc_id": pa.array(ids), "data": pa.array(blobs, type=pa.binary())})

    vecs = rng.standard_normal((n_docs, EMBED_DIM)).astype(np.float32)
    emb_dups = []
    for d in range(1, n_docs):
        if rng.random() < 0.05:
            vecs[d] = vecs[int(rng.integers(0, d))]
            emb_dups.append(d)
    embeddings = pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array((ids % 8).astype(np.int32)),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("documents", docs), ("media", media), ("embeddings", embeddings)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return CorpusInputs(out_dir, n_docs, near, exact, images, emb_dups)
