"""Seeded input generators for the benchmark.

Two inputs, each a pure function of ``(seed, size)``:

- ``cohort_dir``: a longitudinal CSV directory in the shape the engine's
  catalog expects — a hub ``demographics.csv`` (``ursi, session_num, age,
  sex, all_studies``) and three spoke CSVs (``cognition`` 12 numeric
  columns, ``mri`` 20, ``questionnaire`` 30) keyed by ``ursi`` +
  ``session_num``.  Sessions are BAS1, BAS2, BAS3 and FU1; subjects with
  id ≡ 0 (mod 7) attend only BAS1 (the reference generator's dropout
  rule).  About 5% of visits are missing from each spoke and about 2% of
  spoke cells are empty.
- ``corpus``: a parquet corpus (``doc_id, text, lang``) in four
  stopword-profile languages with 10% exact copies and 10% near copies
  that differ from their original in at most 3% of tokens.

Every value comes from ``numpy.random.default_rng`` seeded with the
benchmark seed, so the same seed writes byte-identical files.  Files are
written to a temporary directory and renamed; the manifest
(``<path>.json``, beside the directory so the engine's catalog does not
register it as a table) is written last and marks a complete cache entry.
"""

from __future__ import annotations

import csv
import json
import os
import shutil

import numpy as np

SESSIONS = ["BAS1", "BAS2", "BAS3", "FU1"]
STUDIES = ["Discovery", "Longitudinal_Child", "Longitudinal_Adult", "NFB3", "CoRR"]
# (table, column prefix, column count, value kind)
SPOKES = [("cognition", "cog", 12, "float"),
          ("mri", "mri", 20, "float"),
          ("questionnaire", "q", 30, "likert")]
SPOKE_MISSING_VISIT = 0.05
SPOKE_MISSING_CELL = 0.02

# Stopwords that the engine's language detector lists under exactly one
# profile, so the planted language is the detector's unambiguous argmax.
LANG_WORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "y", "en", "una", "los", "por"],
    "fr": ["le", "et", "une", "les", "des", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "von", "mit"],
}
EXACT_COPY_FRAC = 0.10
NEAR_COPY_FRAC = 0.10
NEAR_EDIT_FRAC = 0.03
NTOK_LO, NTOK_HI = 40, 120


def column_stats(prefix: str, count: int, kind: str) -> list[tuple[str, float, float]]:
    """(name, mean, sd) per spoke column; fixed, so filters can be drawn
    from the generating distribution without reading the data."""
    out = []
    for i in range(count):
        name = f"{prefix}_{i + 1:02d}"
        if kind == "likert":
            out.append((name, 2.0, 1.2))
        else:
            out.append((name, 50.0 + 5.0 * i, 10.0 + i))
    return out


def _cached(path: str) -> dict | None:
    try:
        with open(path + ".json") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _atomic_dir(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _publish(tmp: str, path: str, manifest: dict) -> dict:
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    with open(path + ".json.tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(path + ".json.tmp", path + ".json")
    return manifest


def _fmt(v: float) -> str:
    return "" if np.isnan(v) else f"{v:.2f}"


def write_cohort(path: str, seed: int, participants: int) -> dict:
    """Write the cohort CSV directory; returns its manifest."""
    cached = _cached(path)
    if cached is not None:
        return cached
    rng = np.random.default_rng([seed, 1])
    tmp = _atomic_dir(path)
    ids = np.arange(1, participants + 1)
    base_age = rng.uniform(8.0, 80.0, participants)
    sex = rng.choice(["F", "M"], participants)
    first = rng.integers(0, len(STUDIES), participants)
    second = rng.integers(0, len(STUDIES), participants)
    two = rng.random(participants) < 0.3

    rows = []  # (subject index, session index)
    for s_idx in range(len(SESSIONS)):
        keep = ids % 7 != 0 if s_idx else np.ones(participants, bool)
        rows.extend((int(i), s_idx) for i in np.nonzero(keep)[0])
    rows.sort()
    subj = np.array([r[0] for r in rows])
    sess = np.array([r[1] for r in rows])
    ursi = [f"M{ids[i]:08d}" for i in subj]
    age = np.round(base_age[subj] + 1.5 * sess, 1)

    with open(os.path.join(tmp, "demographics.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["ursi", "session_num", "age", "sex", "all_studies"])
        for k, i in enumerate(subj):
            studies = STUDIES[first[i]]
            if two[i] and second[i] != first[i]:
                studies += ";" + STUDIES[second[i]]
            w.writerow([ursi[k], SESSIONS[sess[k]], f"{age[k]:.1f}", sex[i], studies])

    n_rows = {"demographics": len(rows)}
    for table, prefix, count, kind in SPOKES:
        stats = column_stats(prefix, count, kind)
        present = rng.random(len(rows)) >= SPOKE_MISSING_VISIT
        vals = np.empty((len(rows), count))
        for j, (_, mean, sd) in enumerate(stats):
            if kind == "likert":
                vals[:, j] = np.clip(np.round(rng.normal(mean, sd, len(rows))), 0, 4)
            else:
                # age-correlated measure, as in the reference generator
                vals[:, j] = np.round(rng.normal(mean, sd, len(rows)) - 0.05 * (age - 40), 2)
        vals[rng.random(vals.shape) < SPOKE_MISSING_CELL] = np.nan
        names = [s[0] for s in stats]
        with open(os.path.join(tmp, f"{table}.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["ursi", "session_num", *names])
            for k in np.nonzero(present)[0]:
                if kind == "likert":
                    cells = ["" if np.isnan(v) else str(int(v)) for v in vals[k]]
                else:
                    cells = [_fmt(v) for v in vals[k]]
                w.writerow([ursi[k], SESSIONS[sess[k]], *cells])
        n_rows[table] = int(present.sum())

    manifest = {"kind": "cohort", "seed": seed, "participants": participants,
                "rows": n_rows, "input_rows": sum(n_rows.values()),
                "input_bytes": sum(os.path.getsize(os.path.join(tmp, f"{t}.csv"))
                                   for t in n_rows)}
    return _publish(tmp, path, manifest)


def _pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return ["".join(rng.choice(letters, k)) for k in lens]


def write_corpus(path: str, seed: int, docs: int) -> dict:
    """Write the planted-duplicate parquet corpus; returns its manifest.

    ``docs`` counts every row: originals, exact copies and near copies.
    The manifest lists the planted (original, copy) id pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cached = _cached(path)
    if cached is not None:
        return cached
    rng = np.random.default_rng([seed, 2])
    tmp = _atomic_dir(path)
    vocab = _pseudo_words(rng, 4000)
    langs = sorted(LANG_WORDS)
    n_exact = int(docs * EXACT_COPY_FRAC)
    n_near = int(docs * NEAR_COPY_FRAC)
    n_orig = docs - n_exact - n_near

    texts, doc_langs = [], []
    for _ in range(n_orig):
        lang = langs[int(rng.integers(len(langs)))]
        n_tok = int(rng.integers(NTOK_LO, NTOK_HI))
        stop = LANG_WORDS[lang]
        is_stop = rng.random(n_tok) < 0.35
        toks = [stop[int(rng.integers(len(stop)))] if s else vocab[int(rng.integers(len(vocab)))]
                for s in is_stop]
        if rng.random() < 0.2:  # a low-quality tail: punctuation runs
            toks = [t if s or rng.random() < 0.5 else t + "!!" for t, s in zip(toks, is_stop)]
        texts.append(" ".join(toks))
        doc_langs.append(lang)

    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        src = int(rng.integers(n_orig))
        exact_pairs.append((src, len(texts)))
        texts.append(texts[src])
        doc_langs.append(doc_langs[src])
    for _ in range(n_near):
        src = int(rng.integers(n_orig))
        toks = texts[src].split(" ")
        n_edit = max(1, int(len(toks) * NEAR_EDIT_FRAC))
        for pos in rng.choice(len(toks), n_edit, replace=False):
            toks[int(pos)] = vocab[int(rng.integers(len(vocab)))]
        near_pairs.append((src, len(texts)))
        texts.append(" ".join(toks))
        doc_langs.append(doc_langs[src])

    # shuffle row order so copies are not adjacent to their originals
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), np.int64)
    new_id[order] = np.arange(len(texts))
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([doc_langs[i] for i in order], pa.string()),
    })
    pq.write_table(table, os.path.join(tmp, "corpus.parquet"))
    manifest = {
        "kind": "corpus", "seed": seed, "docs": len(texts),
        "input_rows": len(texts),
        "input_bytes": os.path.getsize(os.path.join(tmp, "corpus.parquet")),
        "exact_pairs": [[int(new_id[a]), int(new_id[b])] for a, b in exact_pairs],
        "near_pairs": [[int(new_id[a]), int(new_id[b])] for a, b in near_pairs],
    }
    return _publish(tmp, path, manifest)
