"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow, so the program under test only ever
sees the generated files. The same seed gives byte-identical files; a
different seed gives different bytes with the same row counts and the
same per-column null counts (null positions are drawn as exact-size
samples, not per-row coin flips).
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Header of the pipe-delimited SFPD staging feed, in file order.
STAGING_COLUMNS = [
    "Incident Datetime",
    "Incident Date",
    "Incident Time",
    "Incident Year",
    "Incident Day of Week",
    "Report Datetime",
    "Row ID",
    "Incident ID",
    "Incident Number",
    "CAD Number",
    "Report Type Code",
    "Report Type Description",
    "Filed Online",
    "Incident Code",
    "Incident Category",
    "Incident Subcategory",
    "Incident Description",
    "Resolution",
    "Intersection",
    "CNN",
    "Police District",
    "Analysis Neighborhood",
    "Supervisor District",
    "Latitude",
    "Longitude",
    "Point",
    "Neighborhoods",
    "ESNCAG - Boundary File",
    "Central Market/Tenderloin Boundary Polygon - Updated",
    "Civic Center Harm Reduction Project Boundary",
    "HSOC Zones as of 2018-06-05",
    "Invest In Neighborhoods (IIN) Areas",
    "Current Supervisor Districts",
    "Current Police Districts",
]

#: Null percentage per staging column (FIXTURES.md §1); absent means 0.
STAGING_NULL_PCT = {
    "CAD Number": 15,
    "Incident Category": 2,
    "Incident Subcategory": 2,
    "Intersection": 5,
    "CNN": 5,
    "Analysis Neighborhood": 8,
    "Supervisor District": 8,
    "Latitude": 5,
    "Longitude": 5,
    "Point": 5,
    "Neighborhoods": 10,
    "ESNCAG - Boundary File": 95,
    "Central Market/Tenderloin Boundary Polygon - Updated": 90,
    "Civic Center Harm Reduction Project Boundary": 92,
    "HSOC Zones as of 2018-06-05": 85,
    "Invest In Neighborhoods (IIN) Areas": 95,
    "Current Supervisor Districts": 5,
    "Current Police Districts": 5,
}

_REPORT_TYPES = [
    ("II", "Initial"),
    ("IS", "Initial Supplement"),
    ("VI", "Vehicle Initial"),
    ("VS", "Vehicle Supplement"),
    ("CI", "Coplogic Initial"),
]
_RESOLUTIONS = ["Open or Active", "Cite or Arrest Adult", "Unfounded", "Exceptional Adult"]
_DISTRICTS = [
    "Bayview", "Central", "Ingleside", "Mission", "Northern", "Park",
    "Richmond", "Southern", "Taraval", "Tenderloin", "Out of SF",
]
_EPOCH = dt.datetime(2018, 1, 1)
_SPAN_S = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86400


def _null_mask(rng: np.random.Generator, n: int, pct: int) -> np.ndarray:
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=n * pct // 100, replace=False)] = True
    return mask


def write_staging_csv(path: str, n_rows: int, seed: int) -> None:
    """One pipe-delimited staging file of ``n_rows`` rows: the SFPD
    timestamp format ``yyyy/MM/dd hh:mm:ss a``, empty field = NULL.

    ``Filed Online`` is true exactly for the online report type, so no
    (description, code) pair carries both a true and a NULL variant and
    the fact build never fans out (FactCrime rows = staging rows).
    """
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    inc_s = rng.integers(0, _SPAN_S, n)
    rep_s = inc_s + rng.integers(0, 72 * 3600, n)
    # an exact share per report type, so the Filed Online null count is fixed too
    rt = rng.permutation(np.arange(n) % len(_REPORT_TYPES))
    cat = rng.integers(0, 50, n)
    sub = np.where(cat < 20, rng.integers(0, 2, n), 0)  # 70 distinct pairs
    cols: dict[str, list[str]] = {
        "Row ID": (10**11 + rng.choice(4 * n, size=n, replace=False)).astype(str).tolist(),
        "Incident ID": rng.integers(1, 2_000_000_000, n).astype(str).tolist(),
        "Incident Number": rng.integers(10**8, 10**9, n).astype(str).tolist(),
        "CAD Number": rng.integers(10**8, 2 * 10**9, n).astype(str).tolist(),
        "Report Type Code": [_REPORT_TYPES[i][0] for i in rt],
        "Report Type Description": [_REPORT_TYPES[i][1] for i in rt],
        "Filed Online": ["true" if i == 4 else "" for i in rt],
        "Incident Code": rng.integers(10000, 100000, n).astype(str).tolist(),
        "Incident Category": [f"Category {c:02d}" for c in cat],
        "Incident Subcategory": [f"Category {c:02d} - Sub {s}" for c, s in zip(cat, sub)],
        "Incident Description": [f"Description {d:03d}" for d in rng.integers(0, 400, n)],
        "Resolution": [_RESOLUTIONS[i] for i in rng.integers(0, 4, n)],
        "Intersection": [
            f"{a}TH ST \\ {b}TH AVE"
            for a, b in zip(rng.integers(1, 51, n), rng.integers(1, 41, n))
        ],
        "CNN": rng.integers(10**7, 10**8, n).astype(str).tolist(),
        "Police District": [_DISTRICTS[i] for i in rng.integers(0, 11, n)],
        "Analysis Neighborhood": [f"Neighborhood {k:02d}" for k in rng.integers(0, 41, n)],
        "Supervisor District": rng.integers(1, 12, n).astype(str).tolist(),
        "Neighborhoods": rng.integers(1, 118, n).astype(str).tolist(),
        "ESNCAG - Boundary File": ["1"] * n,
        "Central Market/Tenderloin Boundary Polygon - Updated": ["1"] * n,
        "Civic Center Harm Reduction Project Boundary": ["1"] * n,
        "HSOC Zones as of 2018-06-05": rng.integers(1, 6, n).astype(str).tolist(),
        "Invest In Neighborhoods (IIN) Areas": ["1"] * n,
        "Current Supervisor Districts": rng.integers(1, 12, n).astype(str).tolist(),
        "Current Police Districts": rng.integers(1, 11, n).astype(str).tolist(),
    }
    lat = np.round(37.70 + rng.random(n) * 0.13, 6)
    lon = np.round(-122.51 + rng.random(n) * 0.15, 6)
    cols["Latitude"] = lat.astype(str).tolist()
    cols["Longitude"] = lon.astype(str).tolist()
    cols["Point"] = [f"POINT ({x} {y})" for x, y in zip(cols["Longitude"], cols["Latitude"])]
    inc = [_EPOCH + dt.timedelta(seconds=int(s)) for s in inc_s]
    rep = [_EPOCH + dt.timedelta(seconds=int(s)) for s in rep_s]
    cols["Incident Datetime"] = [t.strftime("%Y/%m/%d %I:%M:%S %p") for t in inc]
    cols["Incident Date"] = [t.strftime("%Y-%m-%d") for t in inc]
    cols["Incident Time"] = [f"{t.hour}:{t.minute:02d}:{t.second:02d}" for t in inc]
    cols["Incident Year"] = [str(t.year) for t in inc]
    cols["Incident Day of Week"] = [t.strftime("%A") for t in inc]
    cols["Report Datetime"] = [t.strftime("%Y/%m/%d %I:%M:%S %p") for t in rep]
    # the location block (lat, lon, point) is missing together
    geo_null = _null_mask(rng, n, 5)
    for name, pct in STAGING_NULL_PCT.items():
        mask = geo_null if name in ("Latitude", "Longitude", "Point") else _null_mask(rng, n, pct)
        values = cols[name]
        for i in np.flatnonzero(mask):
            values[i] = ""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, delimiter="|", lineterminator="\n", quoting=csv.QUOTE_NONE, escapechar=None)
        w.writerow(STAGING_COLUMNS)
        w.writerows(zip(*(cols[c] for c in STAGING_COLUMNS)))


#: The corpus generator reproduces the repository's reference corpus,
#: the sf0.1 ``documents`` (5000 rows) and ``embeddings`` (2000 rows)
#: tables, from these measurements of it:
#:
#: - text: tokens drawn uniformly from the 30 words below (each 2.9-3.0%
#:   of all tokens), 10..99 tokens per text, uniformly (500-570 texts in
#:   every decile of that range);
#: - near-duplicates: 250 texts (5%) are another text of the table plus
#:   a trailing ``dup`` token. Copies of copies give 9 clusters of 3 and
#:   one of 4 besides 223 pairs; two copies of one text give the table's
#:   8 exact-duplicate pairs; 5 copies outlived the text they copied;
#: - ``lang`` is independent of the text: en 41.2%, zh 15.1%, es 14.9%,
#:   fr 14.8%, de 14.0%; ``source`` is ``src{doc_id % 20}``; ``n_chars``
#:   is the text's length;
#: - embeddings: 64 floats, i.i.d. normal entries scaled to unit norm
#:   (entry std 0.125, kurtosis 2.92), no near-duplicates (the closest
#:   pair has cosine 0.60); ``label`` uniform on 0..9.
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_TOKENS = (10, 100)
NEAR_DUP_SHARE = 0.05
DUP_TOKEN = "dup"
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
_ABC = "abcdefghijklmnopqrstuvwxyz"
EMB_DIM = 64
N_LABELS = 10


def _base_documents(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    """``n`` texts and, per text, the index of the random text it was
    derived from (its root). ``NEAR_DUP_SHARE`` of the positions, taken
    in random order, are overwritten with a copy of a random text plus
    ``DUP_TOKEN``; a copy may copy an earlier copy, and a copied text may
    be overwritten later, as in the reference corpus. Texts with one
    root are near-duplicates of each other; no other pair is."""
    lengths = rng.integers(*DOC_TOKENS, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    roots = np.arange(n)
    for i in rng.choice(n, size=round(n * NEAR_DUP_SHARE), replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] + " " + DUP_TOKEN
        roots[i] = roots[j]
    return texts, roots


def _base_embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    vecs = rng.standard_normal((n, EMB_DIM))
    return (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, copies: int, seed: int) -> np.ndarray:
    """``documents.parquet`` and ``embeddings.parquet`` under ``out_dir``:
    ``copies`` perturbed copies of one seeded base corpus. Returns the
    root of every document (by ``doc_id``): two documents are planted
    near-duplicates exactly when their roots are equal.

    Copy 0 is the base; copy c > 0 maps every text through a per-copy
    a-z bijection plus a token suffix, and flips vector signs per copy.
    Both keep the duplicate structure within a copy exactly and remove
    it across copies, so duplicate-group count grows with ``copies``
    while group size stays the same.
    """
    rng = np.random.default_rng([seed, 2])
    texts, roots = _base_documents(rng, n_docs)
    langs = rng.choice(_LANGS, size=n_docs, p=_LANG_P).tolist()
    vecs = _base_embeddings(rng, n_vecs)
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    doc_text: list[str] = []
    all_vecs = []
    for c in range(copies):
        if c == 0:
            doc_text += texts
            all_vecs.append(vecs)
            continue
        table = str.maketrans(_ABC, "".join(rng.permutation(list(_ABC))))
        doc_text += [" ".join(t + f"q{c}" for t in s.translate(table).split(" ")) for s in texts]
        all_vecs.append(vecs * np.where(rng.random(EMB_DIM) < 0.5, -1.0, 1.0).astype(np.float32))
    n_all = n_docs * copies
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_all, dtype=np.int64)),
            "text": pa.array(doc_text, pa.string()),
            "lang": pa.array(langs * copies, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_all)], pa.string()),
            "n_chars": pa.array([len(t) for t in doc_text], pa.int64()),
        }
    )
    flat = np.concatenate(all_vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(len(flat), dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(flat.ravel()), EMB_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(np.tile(labels, copies)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return np.concatenate([roots + c * n_docs for c in range(copies)])
