"""Seeded benchmark inputs, written in plain Python into the run's work
directory.

Every input is a pure function of (seed, size), and every generator
returns what it planted, so the oracles never ask the program under
test. No Spark job builds an input: each run's measured job starts on
an equally cold JVM, and set-up is the session start plus a second or
so of generation.

- ``transcripts``: a transcripts table with planted violations and four
  hot conversations, in the format and with the text templates of
  ``datacheck_spark.transcripts.generate_transcripts``, written as
  ``BASE_FILES`` parquet files, and a pool of appends, one directory
  per append, each with its own conv_id prefix.
- ``corpus``: a JSONL document corpus of random letter-string words with
  planted near copies (about 3% of words replaced) and exact copies.
"""

from __future__ import annotations

import datetime
import json
import random
import zlib
from collections import Counter
from pathlib import Path

BASE_FILES = 16
TURNS_PER_CONV = 12
HOT_CONVS = 4
HOT_FACTOR = 100
CONV_BUCKETS = 32
_EPOCH = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)

#: text plants by a per-turn draw from 1000, as ``generate_transcripts``
#: plants them: (upper bound of the draw, rule the text fails or None)
_TEXT_PLANTS = [
    (5, "text_non_empty"),  # null
    (10, "text_non_empty"),  # blank
    (14, "pii_detection"),  # e-mail
    (17, "pii_detection"),  # phone number
    (20, "pii_detection"),  # national id
    (25, "garbled_text"),  # control characters
    (30, "repetitive_text"),  # one sentence fifty times
    (33, "repetitive_text"),  # 5000 x's, also a length outlier
    (38, None),  # Chinese text
]


def _text(rng: random.Random, draw: int, cid: int) -> str | None:
    from datacheck_spark.transcripts import _WORDS, _ZH

    normal = " ".join(rng.choices(_WORDS, k=12))
    if draw < 5:
        return None
    if draw < 10:
        return "   "
    if draw < 14:
        return f"contact user{cid}@example.com soon"
    if draw < 17:
        return f"call 138{rng.randrange(10**8):08d} now"
    if draw < 20:
        return "id is 110101199001011234 ok"
    if draw < 25:
        return "bad\x00\x01\x02\x03 bytes here " + normal
    if draw < 30:
        return "This is repeated. " * 50
    if draw < 33:
        return "x" * 5000
    if draw < 38:
        return _ZH + " " + normal
    return normal


def _rule(draw: int) -> str | None:
    for bound, rule in _TEXT_PLANTS:
        if draw < bound:
            return rule
    return None


def _conversations(rng: random.Random, cids, conv_id, counts: Counter):
    """Rows of the given conversations as columns; ``counts`` gains the
    rows each rule should fail and the structure findings planted."""
    from datacheck_spark.transcripts import _ROLE_CYCLE, TOOL_VOCAB

    cols = {k: [] for k in
            ("conv_id", "turn_idx", "role", "text", "tool", "ts", "conv_bucket",
             "rule")}

    def add(row):
        for k, v in row.items():
            cols[k].append(v)
        counts["__total"] += 1
        if row["rule"] is not None:
            counts[row["rule"]] += 1
        if row["role"] == "robot":
            counts["role_valid"] += 1
        if row["tool"] is not None and row["tool"].startswith("tool_zz_"):
            counts["__orphan_tools"] += 1

    for cid in cids:
        cv = conv_id(cid)
        bucket = zlib.crc32(cv.encode()) % CONV_BUCKETS
        counts["__conversations"] += 1
        n_turns = (
            TURNS_PER_CONV * HOT_FACTOR if cid < HOT_CONVS
            else rng.randint(2, 2 * TURNS_PER_CONV)
        )
        for turn in range(n_turns):
            draw = rng.randrange(1000)
            role = "robot" if rng.randrange(1000) < 2 else _ROLE_CYCLE[turn % 4]
            tool_draw = rng.randrange(1000)
            tool = (
                f"tool_zz_{tool_draw % 7}" if tool_draw < 2
                else TOOL_VOCAB[tool_draw % len(TOOL_VOCAB)] if role == "tool"
                else None
            )
            row = {
                "conv_id": cv,
                "turn_idx": turn,
                "role": role,
                "text": _text(rng, draw, cid),
                "tool": tool,
                "ts": _EPOCH + datetime.timedelta(days=cid % 30, seconds=7 * turn),
                "conv_bucket": bucket,
                "rule": _rule(draw),
            }
            add(row)
            if rng.randrange(1000) < 5:  # the key duplicated, row and all
                add(row)
                counts["__duplicate_keys"] += 2
    cols.pop("rule")
    return cols


def _write(cols: dict, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")), ("conv_bucket", pa.int32()),
    ])
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols, schema=schema), path)


def transcripts(
    out: Path, seed: int, n_convs: int, convs_per_append: int, n_appends: int,
) -> tuple[Path, list[Path], dict]:
    """The base table of ``n_convs`` conversations (the hot ones among
    them) under ``<out>/table/base``, one file per contiguous range of
    conversations, and ``n_appends`` appends of ``convs_per_append``
    further conversations each, whose conv_ids append ``k`` prefixes
    with ``a<k>_``, so no append shares a conversation with the base
    table or another append. Returns the base directory, one directory
    per append in order, and ``meta``: the base table's per-rule failure
    counts by rule name, ``__total`` rows, ``__conversations``,
    ``__orphan_tools`` and ``__duplicate_keys``, and ``append_rows``."""
    rng = random.Random(seed)
    counts: Counter = Counter()
    base = out / "table" / "base"
    per_file = -(-n_convs // BASE_FILES)
    for i in range(BASE_FILES):
        cids = range(i * per_file, min(n_convs, (i + 1) * per_file))
        cols = _conversations(rng, cids, lambda c: f"conv_{c:06d}", counts)
        _write(cols, base / f"part-{i:05d}.parquet")
    pool, append_rows = [], []
    for k in range(n_appends):
        first = n_convs + k * convs_per_append
        cols = _conversations(
            rng, range(first, first + convs_per_append),
            lambda c, k=k: f"a{k:03d}_conv_{c:06d}", Counter(),
        )
        pool.append(out / "pool" / f"k={k}")
        _write(cols, pool[-1] / "part-00000.parquet")
        append_rows.append(len(cols["conv_id"]))
    return base, pool, dict(counts, append_rows=append_rows)


# --- corpus -----------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
VOCAB_SIZE = 5000
NEAR_FRAC = 0.05
EXACT_FRAC = 0.01
REPLACE_FRAC = 0.03


def char3_jaccard(a: str, b: str) -> float:
    """Jaccard of distinct char 3-grams after strip + lower — the
    similarity ``near_duplicate_pairs_lsh`` verifies, for ASCII text."""

    def grams(t: str) -> set:
        t = t.strip().lower()
        if len(t) < 3:
            return {t} if t else set()
        return {t[i : i + 3] for i in range(len(t) - 2)}

    ga, gb = grams(a), grams(b)
    if not ga and not gb:
        return 1.0
    return len(ga & gb) / len(ga | gb)


def corpus(out: Path, seed: int, n_docs: int) -> tuple[Path, dict]:
    """``<out>/corpus.jsonl`` with fields doc_id, text, source, quality.

    About ``NEAR_FRAC`` of the documents are near copies of a distinct
    base document with ``REPLACE_FRAC`` of the words replaced; about
    ``EXACT_FRAC`` are exact copies (every field but doc_id). Words are
    random letter strings, so unrelated documents share few char
    3-grams. ``meta["plants"]`` lists ``[source_id, copy_id, kind,
    jaccard]``."""
    rng = random.Random(seed)
    vocab: set = set()
    while len(vocab) < VOCAB_SIZE:
        vocab.add("".join(rng.choices(_LETTERS, k=rng.randint(3, 9))))
    words = sorted(vocab)
    n_near = int(n_docs * NEAR_FRAC)
    n_exact = int(n_docs * EXACT_FRAC)
    n_base = n_docs - n_near - n_exact

    def record(i: int, text: str) -> dict:
        return {
            "doc_id": f"d{i:07d}",
            "text": text,
            "source": rng.choice(("web", "books", "forum", "code")),
            "quality": round(rng.random(), 4),
        }

    docs = [
        record(i, " ".join(rng.choices(words, k=rng.randint(40, 80))))
        for i in range(n_base)
    ]
    sources = rng.sample(range(n_base), n_near + n_exact)
    plants = []
    for j, src in enumerate(sources):
        i = n_base + j
        if j < n_near:
            w = docs[src]["text"].split(" ")
            for pos in rng.sample(
                range(len(w)), max(1, round(REPLACE_FRAC * len(w)))
            ):
                w[pos] = rng.choice(words)
            docs.append(record(i, " ".join(w)))
            kind = "near"
        else:
            docs.append(dict(docs[src], doc_id=f"d{i:07d}"))
            kind = "exact"
        plants.append([docs[src]["doc_id"], docs[i]["doc_id"], kind])
    out.mkdir(parents=True, exist_ok=True)
    path = out / "corpus.jsonl"
    with open(path, "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    texts = {d["doc_id"]: d["text"] for d in docs}
    for p in plants:
        p.append(char3_jaccard(texts[p[0]], texts[p[1]]))
    return path, {"n_docs": n_docs, "plants": plants}
