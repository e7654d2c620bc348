"""Deterministic input generators for the benchmark workloads.

Every generator takes a seed and a size, writes Parquet files in the
layout the engine expects, and returns the *truth* the output checks
compare against. The truth is computed here with numpy from the
generated arrays, never by the engine.

All columns are built with numpy/pyarrow vector operations: a workload
generates in well under a second, and it happens before the set-up clock
starts.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ----------------------------------------------------------------- helpers


def _concat(*parts) -> pa.Array:
    """Element-wise string concatenation of arrays and scalar strings."""
    return pc.binary_join_element_wise(*parts, "")


def _str(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _padded(a: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(_str(a), width, "0")


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------- DMS layout

# Source PII is drawn from a namespace the engine's fakers never emit (they
# pick from fixed wordlists), so a surviving source value is a real leak.
CUSTOMER_FAKERS = {
    "first_name": "fake_firstname_transformation",
    "last_name": "fake_lastname_transformation",
    "email": "fake_email_transformation",
    "phone": "fake_phone_transformation",
    "address": "fake_address_transformation",
    "company": "fake_companyname_transformation",
}
EVENT_FAKERS = {
    "user_email": "fake_email_transformation",
    "device_id": "fake_md5_transformation",
}
STATUSES = np.array(["active", "pending", "closed", "frozen"])
CLOSED = "closed"
CDC_START = "2024-01-02"
_EPOCH = datetime(2024, 1, 1)


def _customer_columns(rng: np.random.Generator, ids: np.ndarray, tag: str) -> dict[str, pa.Array]:
    n = len(ids)
    sid = _str(ids)
    status = STATUSES[rng.integers(0, len(STATUSES), n)].astype(object)
    status[rng.random(n) < 0.02] = None
    return {
        "id": pa.array(ids, pa.int64()),
        "first_name": _concat("Fn", sid, tag),
        "last_name": _concat("Ln", sid, tag),
        "email": _concat("u", sid, tag, ".", _str(rng.integers(0, 1 << 30, n)), "@src.example"),
        "phone": _concat("+30 69", _padded(rng.integers(0, 10**8, n), 8)),
        "address": _concat(_str(rng.integers(1, 999, n)), " Source Rd ", sid, tag),
        "company": _concat("Co", sid, tag, " SA"),
        "status": pa.array(status, pa.string()),
        "balance": pa.array(np.round(rng.random(n) * 1e4, 2)),
        "created_at": pa.array(
            np.datetime64("2020-01-01") + rng.integers(0, 4 * 365 * 86400, n).astype("timedelta64[s]"),
            pa.timestamp("us"),
        ),
        "notes": _concat("note-", _str(rng.integers(0, 1 << 40, n))),
    }


@dataclass
class TableTruth:
    """What one table of a snapshot must look like after the run."""

    rows: int
    anonymized: bool
    ids: np.ndarray | None = None  # sorted surviving PKs
    status: np.ndarray | None = None  # per sorted PK, for the CDC-merge check
    pii: dict[str, pa.Array] = field(default_factory=dict)  # column -> pii_keys() of every source row
    source_files: tuple[str, ...] = ()  # passthrough: relative paths to compare byte-for-byte


@dataclass
class SnapshotInput:
    source: Path
    config: dict  # AnonymizationConfig.from_dict input
    mode: str
    start_date: str | None
    primary_keys: dict[str, list[str]]
    input_rows: int
    input_bytes: int
    tables: dict[str, TableTruth]


def pii_keys(ids, values) -> pa.Array:
    """``"<pk>\x1f<value>"`` per row: the unit the PII check compares."""
    return _concat(pc.cast(ids, pa.string()), "\x1f", values)


def _file_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def _faker_config(table: str, fakers: dict[str, str], filter_type: dict | None = None) -> dict:
    cfg = {
        "table_name": table,
        "anonymization_type": {
            "type": "Multi",
            "column_transformations": [
                {"column_name": c, "transformation_type": {"type": "Custom", "operation_type": op}}
                for c, op in fakers.items()
            ],
        },
    }
    if filter_type:
        cfg["filter_type"] = filter_type
    return cfg


def gen_dms_snapshot(root: Path, seed: int, customers: int, events: int, audit: int) -> SnapshotInput:
    """A few large tables in DMS layout.

    - ``customers``: wide PII table, three LOAD files plus three dated CDC
      files of mixed I/U/D, merged in DateAware mode, filtered on status
      (NOT IN 'closed') with six faker columns.
    - ``events.parquet``: one large flat file with two faker columns (the
      runner's single-output-file path).
    - ``audit``: LOAD-only table with no config entry (passthrough copy).
    """
    rng = np.random.default_rng(seed)
    src = root / "source"
    tables: dict[str, TableTruth] = {}

    # customers: LOAD snapshot
    load_ids = np.arange(1, customers + 1, dtype=np.int64)
    load = _customer_columns(rng, load_ids, "")
    load_t = pa.table(load)
    bounds = np.linspace(0, customers, 4).astype(int)
    for i in range(3):
        _write(load_t.slice(bounds[i], bounds[i + 1] - bounds[i]), src / "customers" / f"LOAD{i + 1:08d}.parquet")

    # customers: CDC (updates/deletes on LOAD ids, inserts of new ids);
    # ingestion timestamps are unique so last-writer-wins is unambiguous
    n_cdc = customers // 4
    kind = rng.random(n_cdc)
    n_ins = int((kind >= 0.8).sum())
    cdc_ids = rng.integers(1, customers + 1, n_cdc).astype(np.int64)
    cdc_ids[kind >= 0.8] = np.arange(customers + 1, customers + 1 + n_ins, dtype=np.int64)
    ops = np.where(kind < 0.6, "U", np.where(kind < 0.8, "D", "I"))
    order = rng.permutation(n_cdc)  # ingestion order
    cdc_ids, ops = cdc_ids[order], ops[order]
    ts_us = np.sort(rng.choice(3 * 86400 * 10**6, n_cdc, replace=False)) + 86400 * 10**6
    cdc = _customer_columns(rng, cdc_ids, "c")
    cdc["Op"] = pa.array(ops)
    cdc["_dms_ingestion_timestamp"] = pa.array(np.datetime64(_EPOCH) + ts_us.astype("timedelta64[us]"), pa.timestamp("us"))
    cdc_t = pa.table(cdc)
    day = ts_us // (86400 * 10**6)
    for d in np.unique(day):
        stamp = (_EPOCH + timedelta(days=int(d))).strftime("%Y%m%d")
        _write(cdc_t.filter(pa.array(day == d)), src / "customers" / f"{stamp}-{int(d):09d}.parquet")

    # truth: latest CDC record per id wins; 'D' removes; then the filter
    touched, first_rev = np.unique(cdc_ids[::-1], return_index=True)
    win = n_cdc - 1 - first_rev  # index of each id's last record in ingestion order
    keep_load = ~np.isin(load_ids, touched)
    alive = ops[win] != "D"
    all_ids = np.concatenate([load_ids[keep_load], touched[alive]])
    load_status = np.array(load["status"].to_pylist(), dtype=object)
    cdc_status = np.array(cdc["status"].to_pylist(), dtype=object)
    all_status = np.concatenate([load_status[keep_load], cdc_status[win[alive]]])
    kept = all_status != CLOSED
    ids, status = all_ids[kept], all_status[kept]
    srt = np.argsort(ids)
    tables["customers"] = TableTruth(
        rows=len(ids),
        anonymized=True,
        ids=ids[srt],
        status=status[srt],
        pii={
            c: pa.concat_arrays([pii_keys(load["id"], load[c]), pii_keys(cdc["id"], cdc[c])])
            for c in CUSTOMER_FAKERS
        },
    )

    # events: one large flat file
    ev_ids = np.arange(1, events + 1, dtype=np.int64)
    user = rng.integers(1, max(2, customers), events)
    ev = {
        "event_id": pa.array(ev_ids),
        "user_email": _concat("u", _str(user), "@src.example"),
        "device_id": _concat("dev-", _str(rng.integers(0, 1 << 40, events))),
        "kind": pa.array(np.array(["view", "click", "buy", "refund"])[rng.integers(0, 4, events)]),
        "amount": pa.array(np.round(rng.random(events) * 500, 2)),
        "ts": pa.array(np.datetime64("2024-01-01") + rng.integers(0, 86400 * 30, events).astype("timedelta64[s]"), pa.timestamp("us")),
    }
    _write(pa.table(ev), src / "events.parquet")
    tables["events"] = TableTruth(
        rows=events,
        anonymized=True,
        ids=ev_ids,
        pii={c: pii_keys(ev["event_id"], ev[c]) for c in EVENT_FAKERS},
    )

    # audit: passthrough, LOAD-only
    a_ids = np.arange(1, audit + 1, dtype=np.int64)
    audit_t = pa.table({
        "id": pa.array(a_ids),
        "actor": _concat("svc-", _str(rng.integers(0, 50, audit))),
        "action": _concat("act-", _str(rng.integers(0, 1 << 20, audit))),
    })
    half = audit // 2
    files = []
    for i, (off, n) in enumerate(((0, half), (half, audit - half))):
        rel = f"audit/LOAD{i + 1:08d}.parquet"
        _write(audit_t.slice(off, n), src / rel)
        files.append(rel)
    tables["audit"] = TableTruth(rows=audit, anonymized=False, source_files=tuple(files))

    config = {
        "tables": [
            _faker_config("customers", CUSTOMER_FAKERS, {"type": "AnyOfString", "column": "status", "values": [CLOSED]}),
            _faker_config("events", EVENT_FAKERS),
        ]
    }
    return SnapshotInput(
        source=src,
        config=config,
        mode="DateAware",
        start_date=CDC_START,
        primary_keys={"customers": ["id"]},
        input_rows=customers + n_cdc + events + audit,
        input_bytes=_file_bytes(src),
        tables=tables,
    )


# ------------------------------------------------------------------ corpus

# Near-duplicates differ only in "slots": long random tokens at fixed
# positions. One changed slot changes 3 of ~80 word 3-shingles (MinHash
# LSH pairs the two docs with near certainty) but ~40 of ~480 char 5-grams
# (Jaccard ~0.84, above the 0.8 verify threshold); two changed slots fall
# to ~0.71 and are rejected. So a chain is a path in the verified graph
# with no shortcuts, and label propagation needs one round per hop.
SLOTS = 3
SLOT_LEN = 36
WORD_LEN = 4
DOC_WORDS = 80
CHAIN = 5  # docs in the edit chain: 4 hops from its min id -> 5 rounds
STAR_SIZES = (3, 4, 5)  # variants per star, cycled: the candidate count is the same for every seed
MIN_QUALITY = 0.5
SHARDS = 8
_STOP = np.array(["the", "and", "of", "to", "is", "in", "that", "it", "for", "on", "with", "as", "was", "are"])
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
_PUNCT = np.frombuffer(b"#$%&*+<=>@^|~", dtype="S1")


def _rand_tokens(rng: np.random.Generator, n: int, length: int, alphabet: np.ndarray) -> np.ndarray:
    """n random tokens of ``length`` characters drawn from ``alphabet``."""
    chars = alphabet[rng.integers(0, len(alphabet), (n, length))]
    return chars.view(f"S{length}").ravel().astype(str)


@dataclass
class CorpusInput:
    path: Path
    input_rows: int
    input_bytes: int
    survivors: np.ndarray  # sorted doc ids the curation chain must keep
    clusters: int  # planted clusters with 2+ members


def gen_corpus(root: Path, seed: int, docs: int, stars: int) -> CorpusInput:
    """A text corpus of ``docs`` documents: one edit chain, ``stars``
    near-duplicate stars, exact duplicates (case/whitespace variants),
    low-quality docs and singletons.

    Doc ids are assigned so each cluster's minimum id sits at a chain end
    (the worst case for min-label propagation); rows are shuffled on disk.
    """
    rng = np.random.default_rng(seed)
    vocab = np.unique(_rand_tokens(rng, 8000, WORD_LEN, _LETTERS))

    def body() -> list[str]:
        words = vocab[rng.integers(0, len(vocab), DOC_WORDS)]
        stop = rng.random(DOC_WORDS) < 0.3
        stop[1:] &= ~stop[:-1]  # never two stopwords in a row
        words[stop] = _STOP[rng.integers(0, len(_STOP), stop.sum())]
        return list(words)

    slot_at = np.linspace(10, DOC_WORDS - 10, SLOTS).astype(int)

    def render(words: list[str], slots: list[str]) -> str:
        w = list(words)
        for pos, s in zip(slot_at, slots):
            w[pos] = s
        return " ".join(w)

    def fresh_slot() -> str:
        return _rand_tokens(rng, 1, SLOT_LEN, _LETTERS)[0]

    texts: list[str] = []
    survivors: list[int] = []
    clusters = 0
    # the chain: x[i+1] = x[i] with slot i % SLOTS replaced
    words, slots = body(), [fresh_slot() for _ in range(SLOTS)]
    survivors.append(len(texts))
    for i in range(CHAIN):
        texts.append(render(words, slots))
        slots[i % SLOTS] = fresh_slot()
    clusters += 1
    # stars: a centre plus variants that each replace one slot
    for star in range(stars):
        words, slots = body(), [fresh_slot() for _ in range(SLOTS)]
        survivors.append(len(texts))
        texts.append(render(words, slots))
        for _ in range(STAR_SIZES[star % len(STAR_SIZES)]):
            v = list(slots)
            v[rng.integers(0, SLOTS)] = fresh_slot()
            texts.append(render(words, v))
        clusters += 1
    n_low = max(1, docs // 40)
    n_dup = max(1, docs // 20)
    n_single = max(1, docs - len(texts) - n_low - n_dup)
    first_single = len(texts)
    for _ in range(n_single):
        texts.append(render(body(), [fresh_slot() for _ in range(SLOTS)]))
    survivors.extend(range(first_single, first_single + n_single))
    # low quality: short runs of punctuation (score ~0.1, threshold 0.5)
    for _ in range(n_low):
        texts.append(" ".join(_rand_tokens(rng, 20, 4, _PUNCT)))
    # exact duplicates of singletons under case/whitespace changes; the
    # copy has the higher id, so exact_dedup keeps the original
    for j in rng.choice(n_single, n_dup, replace=False):
        texts.append("  " + texts[first_single + j].upper().replace(" ", "   ") + " ")

    n = len(texts)
    order = rng.permutation(n)
    path = root / "docs" / "docs.parquet"
    _write(pa.table({"doc_id": pa.array(order, pa.int64()), "text": pa.array(texts, pa.string()).take(pa.array(order))}), path)
    # rows are written in shuffled order (doc_id = generation index)
    return CorpusInput(
        path=path,
        input_rows=n,
        input_bytes=path.stat().st_size,
        survivors=np.sort(np.asarray(survivors, np.int64)),
        clusters=clusters,
    )
