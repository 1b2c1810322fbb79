"""Seeded input generator for the perfbench workloads.

Everything here is plain NumPy + PyArrow: no Spark, so the inputs are
identical for the same seed whatever the library does, and generation
time (``gen_s``) is reported apart from set-up. The same seed gives
byte-identical parquet files; :func:`generate` returns their sha256
digests so a test can pin that.

Inputs (sizes from :data:`SIZES`; ``full`` is what the benchmark runs,
``tiny`` is for the self-test):

* ``raw/hes_apc/<date>.parquet`` – hospital episodes in raw NHS naming
  (``PERSON_ID_DEID``, ``EPIKEY``, ``ADMIDATE`` ..., one column with a
  space in its name). Two archive snapshots: ``2024-01-01`` holds the
  first ``old_frac`` of the rows, ``2024-06-01`` all of them.
* ``raw/gdppr/<date>.parquet`` – one row per person (date of birth,
  sex, region, ethnicity), same two snapshots.
* ``raw/deaths/<date>.parquet`` – about ``deaths_frac`` of persons,
  dates as ``yyyyMMdd`` strings, a few of them dirty (``UNKNOWN``).
* ``raw/hes_apc_delta.parquet`` – the nightly snapshot: ``delta_events``
  new episodes, disjoint ``EPIKEY`` range.
* ``raw/persons_changed.parquet`` – ``changed_persons`` rows in the
  standardised person schema: existing persons with a new region or
  ethnicity plus a few new persons (the upsert batch).
* ``raw/batch.parquet`` – the curation batch: ``batch_docs`` raw web
  documents (``doc_id``, ``text``; ``doc_words`` words, about 900 bytes)
  with light HTML markup, e-mail/URL/phone PII and decomposed accents
  for NFC. ``family_frac`` of them are planted near-duplicates in
  families of 2 to 6; a third of the members differ from their family's
  first member only in markup, so they are exact duplicates once
  cleaned.
* ``raw/corpus.parquet`` – the standing, already curated text corpus:
  ``docs`` documents (``doc_id``, ``text``) of ``doc_words`` plain words.
  ``family_frac`` of them are planted near-duplicates in families of 2
  to 6.
* ``raw/boilerplate.parquet`` – ``hot_family`` boilerplate pages, also
  standing corpus, that differ only in letter case: every LSH band
  bucket of the family holds all of them. Their ids are the fixed block
  from ``HOT_FAMILY_BASE``; at ``full`` the dedup operator's sampled size
  estimate (1 in 64 ids, times 64) is 1,472 > 1,024, so its hot-bucket
  grid path runs.
* ``raw/new_docs.parquet`` – ``new_docs`` raw web documents for the
  nightly batch: light HTML markup, e-mail/URL/phone PII and decomposed
  accents for NFC. Two repeat boilerplate pages, a third are
  near-duplicates of corpus families, every tenth repeats the previous
  document with other markup (an exact duplicate once cleaned).
* ``truth.json`` – the ground truth: family id -> doc ids for the
  batch (``batch_families``), the standing corpus (``families``; the
  boilerplate family is ``hot``) and the new documents
  (``new_doc_families``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "full": dict(
        persons=20_000,
        events=100_000,
        old_frac=0.1,
        deaths_frac=0.03,
        delta_events=2_000,
        changed_persons=1_000,
        batch_docs=4_000,
        docs=400,
        doc_words=100,
        vocab=20_000,
        family_frac=0.15,
        hot_family=2_000,
        hot_words=12,
        new_docs=200,
    ),
    "tiny": dict(
        persons=400,
        events=2_000,
        old_frac=0.1,
        deaths_frac=0.05,
        delta_events=100,
        changed_persons=40,
        batch_docs=200,
        docs=200,
        doc_words=30,
        vocab=3_000,
        family_frac=0.15,
        hot_family=30,
        hot_words=10,
        new_docs=30,
    ),
}

SNAPSHOTS = ("2024-01-01", "2024-06-01")
DELTA_SNAPSHOT = "2024-07-01"
REGIONS = [f"E1200000{i}" for i in range(1, 10)]
ETHNIC = list("ABCDEFGHJKLMNPRS")
DIAG = [
    "I210", "I214", "I219", "I252", "I480", "I500", "I639", "I64X",
    "E119", "E109", "E785", "J189", "J440", "J45X", "N179", "K359",
    "C349", "C509", "F329", "M545", "R074", "R55X", "S720", "Z511",
]
ADMIMETH = ["11", "12", "13", "21", "22", "23", "24", "28", "2A", "81"]
PROVIDERS = [f"R{c}{d}" for c in "A0H1" for d in "0123456789"]
HOT_FAMILY_BASE = 1_000_000  # doc ids of the boilerplate family start here
NEW_DOC_BASE = 2_000_000


def _day(s: str) -> int:
    return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int32"), type=pa.int32()).cast(pa.date32())


def _yyyymmdd(days: np.ndarray) -> list[str]:
    base = np.datetime64("1970-01-01")
    return [
        str(d).replace("-", "") for d in (base + days.astype("timedelta64[D]"))
    ]


def _write(table: pa.Table, path: str, digests: dict, root: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    with open(path, "rb") as fh:
        digests[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()


def _events(rng, n, persons, first_key, lo_day, hi_day) -> pa.Table:
    speldur = rng.integers(0, 40, n)
    speldur_mask = rng.random(n) < 0.01  # a few unknown lengths of stay
    return pa.table({
        "PERSON_ID_DEID": rng.integers(1, persons + 1, n).astype("int64"),
        "EPIKEY": np.arange(first_key, first_key + n, dtype="int64"),
        "ADMIDATE": _dates(rng.integers(_day(lo_day), _day(hi_day), n)),
        "DIAG_4_01": pa.array(np.array(DIAG)[rng.integers(0, len(DIAG), n)]),
        "ADMIMETH": pa.array(np.array(ADMIMETH)[rng.integers(0, len(ADMIMETH), n)]),
        "SPELDUR": pa.array(speldur.astype("int32"), mask=speldur_mask),
        "Provider Code": pa.array(
            np.array(PROVIDERS)[rng.integers(0, len(PROVIDERS), n)]
        ),
    })


def _persons(rng, ids: np.ndarray, raw_names: bool) -> pa.Table:
    n = len(ids)
    sex = np.array(["1", "2", "9"])[rng.choice(3, n, p=[0.49, 0.49, 0.02])]
    region = pa.array(
        np.array(REGIONS)[rng.integers(0, len(REGIONS), n)],
        mask=rng.random(n) < 0.01,
    )
    cols = {
        "person_id": ids.astype("int64"),
        "dob": _dates(rng.integers(_day("1925-01-01"), _day("2012-01-01"), n)),
        "sex": pa.array(sex),
        "region": region,
        "ethnic": pa.array(np.array(ETHNIC)[rng.integers(0, len(ETHNIC), n)]),
    }
    if raw_names:
        cols = {
            {"person_id": "NHS_NUMBER_DEID"}.get(k, k.upper()): v
            for k, v in cols.items()
        }
    return pa.table(cols)


# --- text -----------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng, n: int) -> np.ndarray:
    lengths = rng.integers(3, 10, n)
    chars = _LETTERS[rng.integers(0, 26, int(lengths.sum()))]
    words, at = [], 0
    for length in lengths:
        words.append("".join(chars[at : at + length]))
        at += length
    return np.array(words)


def _words(rng, vocab, k: int) -> list[str]:
    return list(vocab[rng.integers(0, len(vocab), k)])


def _render(rng, words: list[str], doc_id: int) -> str:
    """Wrap plain words in markup, PII and decomposed accents."""
    words = list(words)
    # decomposed accent (e + COMBINING ACUTE) that NFC composes
    for _ in range(2):
        i = int(rng.integers(0, len(words)))
        words[i] = words[i] + "e\u0301"
    pii = [
        f"user{doc_id}@mail{doc_id % 97}.example.org",
        f"https://site{doc_id % 89}.example.com/page/{doc_id}",
        f"{200 + doc_id % 700:03d}-{doc_id % 1000:03d}-{doc_id % 10000:04d}",
    ]
    for token in pii:
        words.insert(int(rng.integers(0, len(words))), token)
    third = len(words) // 3
    paras = [words[:third], words[third : 2 * third], words[2 * third :]]
    body = "".join(f"<p>{' '.join(p)}.</p>\n" for p in paras)
    return (
        "<html><head><style>p {margin: 0}</style></head><body>"
        f"{body}<script>var id = {doc_id};</script> &amp; </body></html>"
    )


def _typo(rng, words: list[str]) -> list[str]:
    """Change one inner letter of one word: about five 5-shingles change,
    so the Jaccard similarity to the original stays near 0.97 and an LSH
    of 8 bands x 4 rows misses the pair with probability below 1e-7."""
    words = list(words)
    i = int(rng.choice([j for j, w in enumerate(words) if len(w) >= 3]))
    w = words[i]
    k = int(rng.integers(1, len(w) - 1))
    letter = w[k]
    while letter == w[k]:
        letter = str(_LETTERS[rng.integers(0, 26)])
    words[i] = w[:k] + letter + w[k + 1 :]
    return words


def _batch(rng, s: dict, vocab):
    """Raw web documents of the curation batch + families. Member 0 of a
    family renders its base word list; every third member repeats member
    0 with other markup (an exact duplicate once cleaned); the rest
    carry one typo (see :func:`_typo`) under the same layout."""
    n, k = s["batch_docs"], s["doc_words"]
    n_family_docs = int(n * s["family_frac"])
    ids, texts, families = [], [], {}
    next_id = 1
    while n_family_docs - (next_id - 1) >= 2:
        size = min(int(rng.integers(2, 7)), n_family_docs - (next_id - 1))
        base = _words(rng, vocab, k)
        layout = int(rng.integers(2**31))  # same accent and PII positions
        members = []
        for m in range(size):
            if m == 0:
                text = base_text = _render(np.random.default_rng(layout), base, next_id)
            elif m % 3 == 2:
                text = base_text.replace("<p>", f'<p data-copy="{m}">  ')
            else:
                text = _render(np.random.default_rng(layout), _typo(rng, base), next_id)
            ids.append(next_id)
            texts.append(text)
            members.append(next_id)
            next_id += 1
        families[f"f{len(families)}"] = members
    while next_id <= n:
        ids.append(next_id)
        texts.append(_render(rng, _words(rng, vocab, k), next_id))
        next_id += 1
    return ids, texts, families


def _corpus(rng, s: dict, vocab):
    """Curated corpus text (plain words) + families: member 0 of a family
    is its base word list, the others carry one typo each."""
    n, k = s["docs"], s["doc_words"]
    n_family_docs = int(n * s["family_frac"])
    ids, texts, families = [], [], {}
    next_id = 1
    while n_family_docs - (next_id - 1) >= 2:
        size = min(int(rng.integers(2, 7)), n_family_docs - (next_id - 1))
        base = _words(rng, vocab, k)
        members = []
        for m in range(size):
            words = base if m == 0 else _typo(rng, base)
            ids.append(next_id)
            texts.append(" ".join(words))
            members.append(next_id)
            next_id += 1
        families[f"f{len(families)}"] = members
    while next_id <= n:
        ids.append(next_id)
        texts.append(" ".join(_words(rng, vocab, k)))
        next_id += 1
    return ids, texts, families


def _boilerplate(rng, s: dict, vocab):
    """The hot family: one short template whose members differ only in
    letter case (member j capitalises the words at the set bits of j),
    so they are distinct documents with identical lowercased shingles."""
    template = _words(rng, vocab, s["hot_words"])
    ids, texts = [], []
    for j in range(s["hot_family"]):
        words = [w.upper() if (j >> i) & 1 else w for i, w in enumerate(template)]
        ids.append(HOT_FAMILY_BASE + j)
        texts.append(" ".join(words))
    return ids, texts


def _new_docs(rng, s, vocab, ids, texts, families, hot_texts):
    """Raw web documents: two repeat boilerplate pages, a third are
    near-duplicates of corpus families (a family's first member wrapped
    in markup), every tenth repeats the previous document with
    other markup (an exact duplicate once cleaned), the rest are fresh."""
    by_id = dict(zip(ids, texts))
    fam_names = sorted(families)
    new_ids, new_texts, truth = [], [], {}
    fam_of_prev = None
    for j in range(s["new_docs"]):
        doc_id = NEW_DOC_BASE + j
        fam = None
        if j < 2:
            text, fam = f"<p>{hot_texts[j]}</p>", "hot"
        elif j % 10 == 9:
            text = new_texts[-1].replace("<p>", '<p class="copy">')
            fam = fam_of_prev
        elif j % 3 == 0:
            fam = fam_names[int(rng.integers(0, len(fam_names)))]
            text = f'<div class="post"><p>{by_id[families[fam][0]]}</p></div>'
        else:
            text = _render(rng, _words(rng, vocab, s["doc_words"]), doc_id)
        if fam is not None:
            truth.setdefault(fam, []).append(doc_id)
        fam_of_prev = fam
        new_ids.append(doc_id)
        new_texts.append(text)
    return new_ids, new_texts, truth


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})


def generate(out_dir: str, seed: int, scale: str = "full") -> dict:
    """Write every input under ``out_dir``; return ``{"digests": {...},
    "truth": {...}, "sizes": {...}}``."""
    s = SIZES[scale]
    rng = np.random.default_rng(seed)
    digests: dict[str, str] = {}
    raw = os.path.join(out_dir, "raw")

    events = _events(rng, s["events"], s["persons"], 1, "2014-01-01", "2024-06-01")
    n_old = int(s["events"] * s["old_frac"])
    _write(events.slice(0, n_old), f"{raw}/hes_apc/{SNAPSHOTS[0]}.parquet", digests, out_dir)
    _write(events, f"{raw}/hes_apc/{SNAPSHOTS[1]}.parquet", digests, out_dir)

    ids = np.arange(1, s["persons"] + 1)
    persons = _persons(rng, ids, raw_names=True)
    _write(persons.slice(0, int(len(ids) * 0.9)), f"{raw}/gdppr/{SNAPSHOTS[0]}.parquet", digests, out_dir)
    _write(persons, f"{raw}/gdppr/{SNAPSHOTS[1]}.parquet", digests, out_dir)

    n_dead = int(s["persons"] * s["deaths_frac"])
    dead = rng.choice(ids, n_dead, replace=False)
    death_day = rng.integers(_day("2014-01-01"), _day("2024-06-01"), n_dead)
    reg = _yyyymmdd(death_day + rng.integers(1, 20, n_dead))
    dod = _yyyymmdd(death_day)
    for i in np.flatnonzero(rng.random(n_dead) < 0.02):
        dod[i] = "UNKNOWN"
    deaths = pa.table({
        "DEC_CONF_NHS_NUMBER_CLEAN_DEID": dead.astype("int64"),
        "REG_DATE_OF_DEATH": pa.array(dod),
        "REG_DATE": pa.array(reg),
    })
    early = np.flatnonzero(death_day < _day(SNAPSHOTS[0]))
    _write(deaths.take(early), f"{raw}/deaths/{SNAPSHOTS[0]}.parquet", digests, out_dir)
    _write(deaths, f"{raw}/deaths/{SNAPSHOTS[1]}.parquet", digests, out_dir)

    delta = _events(
        rng, s["delta_events"], s["persons"], s["events"] + 1,
        SNAPSHOTS[1], DELTA_SNAPSHOT,
    )
    _write(delta, f"{raw}/hes_apc_delta.parquet", digests, out_dir)

    n_new = s["changed_persons"] // 10
    changed_ids = np.concatenate([
        rng.choice(ids, s["changed_persons"] - n_new, replace=False),
        np.arange(s["persons"] + 1, s["persons"] + 1 + n_new),
    ])
    _write(_persons(rng, changed_ids, raw_names=False), f"{raw}/persons_changed.parquet", digests, out_dir)

    vocab = _vocab(rng, s["vocab"])
    batch_ids, batch_texts, batch_families = _batch(rng, s, vocab)
    _write(_docs_table(batch_ids, batch_texts), f"{raw}/batch.parquet", digests, out_dir)
    doc_ids, texts, families = _corpus(rng, s, vocab)
    _write(_docs_table(doc_ids, texts), f"{raw}/corpus.parquet", digests, out_dir)
    hot_ids, hot_texts = _boilerplate(rng, s, vocab)
    _write(_docs_table(hot_ids, hot_texts), f"{raw}/boilerplate.parquet", digests, out_dir)
    new_ids, new_texts, new_truth = _new_docs(
        rng, s, vocab, doc_ids, texts, families, hot_texts)
    _write(_docs_table(new_ids, new_texts), f"{raw}/new_docs.parquet", digests, out_dir)

    truth = {
        "batch_families": batch_families,
        "families": dict(families, hot=hot_ids),
        "new_doc_families": new_truth,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return {"digests": digests, "truth": truth, "sizes": dict(s)}
