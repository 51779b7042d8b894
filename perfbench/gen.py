"""Seeded input generator for the benchmark workloads.

Writes the tables the program reads, with the schemas of FIXTURES.md:

- ``events.parquet/``: a directory of time-sliced part files, one file
  per slice (``part-00000.parquet`` ...). ``ts`` is naive
  ``timestamp[us]``. ``user_id`` is uniform or Zipf-skewed over the
  person ids.
- ``customer.parquet``: one row per person, ``c_custkey`` 0..persons-1,
  25 nations (the ``team_member`` teams).
- ``documents.parquet``: word-soup texts with planted exact copies and
  planted near copies (one token replaced).
- ``embeddings.parquet``: 64-d float vectors with planted near copies
  (a small Gaussian perturbation).

Slices held back for the ``etl_live`` increments are written under
``pending/`` instead of ``events.parquet/``; the benchmark moves them in
one at a time.

``meta.json`` records the parameters and sizes; ``planted.json`` lists
the planted duplicate pairs. The same seed and parameters give
byte-identical files. Generation is cached per (seed, parameters) under
the caller's cache root and published with an atomic rename.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 UTC
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
N_TEAMS = 25
DIM = 64


def _rng(seed: int, tag: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never
    # shifts the values of another
    return np.random.default_rng([seed, int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)])


def _write(table: pa.Table, path: str, row_group_rows: int) -> None:
    pq.write_table(
        table,
        path,
        row_group_size=row_group_rows,
        compression="snappy",
        write_statistics=True,
    )


def _user_ids(rng, n: int, persons: int, zipf_s: float) -> np.ndarray:
    if zipf_s <= 0:
        return rng.integers(0, persons, size=n, dtype=np.int64)
    # bounded Zipf over ranks 1..persons; a seeded permutation maps
    # ranks to ids so the hot users are not simply the low custkeys
    w = np.arange(1, persons + 1, dtype=np.float64) ** -zipf_s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n), side="right")
    ranks = np.minimum(ranks, persons - 1)
    return rng.permutation(persons).astype(np.int64)[ranks]


def write_events(out: str, p: dict, seed: int) -> dict:
    """Events as ``slices`` equal part files covering ``slice_s``
    seconds each; the last ``pending_slices`` go to ``pending/``."""
    rng = _rng(seed, "events")
    n, slices = p["events"], p["slices"]
    per = n // slices
    slice_us = p["slice_s"] * 1_000_000
    live = os.path.join(out, "events.parquet")
    pending = os.path.join(out, "pending")
    os.makedirs(live)
    if p["pending_slices"]:
        os.makedirs(pending)
    users = _user_ids(rng, per * slices, p["persons"], p["zipf_s"])
    values = rng.integers(0, 100_000, size=per * slices) / 100.0
    types = rng.integers(0, len(EVENT_TYPES), size=per * slices)
    props_k = rng.integers(0, 100, size=per * slices)
    for i in range(slices):
        lo = i * per
        sl = slice(lo, lo + per)
        offs = np.sort(rng.integers(0, slice_us, size=per))
        ts = EPOCH_2024_US + i * slice_us + offs
        t = pa.table(
            {
                "event_id": pa.array(np.arange(lo, lo + per, dtype=np.int64)),
                "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
                "user_id": pa.array(users[sl]),
                "event_type": pa.array(EVENT_TYPES[types[sl]]),
                "value": pa.array(values[sl]),
                "props": pa.array([f'{{"k": {k}}}' for k in props_k[sl].tolist()]),
            }
        )
        held = i >= slices - p["pending_slices"]
        _write(
            t,
            os.path.join(pending if held else live, f"part-{i:05d}.parquet"),
            p["row_group_rows"],
        )
    return {"rows": per * slices, "rows_per_slice": per}


def write_customer(out: str, p: dict, seed: int) -> dict:
    rng = _rng(seed, "customer")
    n = p["persons"]
    keys = np.arange(n, dtype=np.int64)
    t = pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys.tolist()]),
            "c_nationkey": pa.array(
                rng.integers(0, N_TEAMS, size=n).astype(np.int32)
            ),
            "c_acctbal": pa.array(rng.integers(-99_999, 999_999, size=n) / 100.0),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, len(SEGMENTS), size=n)]),
        }
    )
    _write(t, os.path.join(out, "customer.parquet"), p["row_group_rows"])
    return {"rows": n}


def write_documents(out: str, p: dict, seed: int) -> dict:
    """Originals are uniform word soup; ``exact_frac`` of the rows copy
    an original verbatim and ``near_frac`` copy one with a single token
    replaced (3-shingle Jaccard ~0.9). doc_ids are a seeded shuffle, so
    copies are not adjacent to their source."""
    rng = _rng(seed, "documents")
    n = p["docs"]
    n_exact = int(n * p["exact_frac"])
    n_near = int(n * p["near_frac"])
    n_orig = n - n_exact - n_near
    vocab = np.array([f"w{i}" for i in range(p["vocab"])])
    lens = rng.integers(p["min_tokens"], p["max_tokens"] + 1, size=n_orig)
    toks = [vocab[rng.integers(0, len(vocab), size=k)] for k in lens.tolist()]
    texts = [" ".join(t) for t in toks]
    src_exact = rng.integers(0, n_orig, size=n_exact)
    texts += [texts[i] for i in src_exact.tolist()]
    src_near = rng.integers(0, n_orig, size=n_near)
    for i in src_near.tolist():
        t = toks[i].copy()
        pos = int(rng.integers(0, len(t)))
        t[pos] = f"x{int(rng.integers(0, 1_000_000))}"  # never in vocab
        texts.append(" ".join(t))
    ids = rng.permutation(n).astype(np.int64)  # row r gets doc_id ids[r]
    near_pairs = sorted(
        tuple(sorted((int(ids[s]), int(ids[n_orig + n_exact + j]))))
        for j, s in enumerate(src_near.tolist())
    )
    order = np.argsort(ids)
    texts_arr = np.array(texts, dtype=object)[order]
    t = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array(texts_arr.tolist(), type=pa.string()),
            "lang": pa.array(np.array(["en", "es", "zh"])[rng.integers(0, 3, size=n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 8, size=n).tolist()]),
            "n_chars": pa.array([len(s) for s in texts_arr.tolist()], type=pa.int64()),
        }
    )
    _write(t, os.path.join(out, "documents.parquet"), p["doc_row_group_rows"])
    return {
        "rows": n,
        "exact_copies": n_exact,
        "near_copies": n_near,
        "near_pairs": near_pairs,
    }


def write_embeddings(out: str, p: dict, seed: int) -> dict:
    """Unit-scale Gaussian vectors; ``vec_near_frac`` of the rows are
    an original plus N(0, vec_noise) per component (cosine
    ~1 - vec_noise**2 / 2)."""
    rng = _rng(seed, "embeddings")
    n = p["vecs"]
    n_near = int(n * p["vec_near_frac"])
    n_orig = n - n_near
    base = rng.standard_normal((n_orig, DIM)).astype(np.float32)
    src = rng.integers(0, n_orig, size=n_near)
    near = base[src] + p["vec_noise"] * rng.standard_normal((n_near, DIM)).astype(
        np.float32
    )
    vecs = np.concatenate([base, near]).astype(np.float32)
    ids = rng.permutation(n).astype(np.int64)
    pairs = sorted(
        tuple(sorted((int(ids[s]), int(ids[n_orig + j]))))
        for j, s in enumerate(src.tolist())
    )
    order = np.argsort(ids)
    flat = pa.array(vecs[order].reshape(-1))
    t = pa.table(
        {
            "vec_id": pa.array(ids[order]),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )
    _write(t, os.path.join(out, "embeddings.parquet"), p["doc_row_group_rows"])
    return {"rows": n, "near_copies": n_near, "near_pairs": pairs}


def generate(out: str, params: dict, seed: int) -> None:
    """Write every table ``params`` asks for into the empty dir ``out``."""
    meta: dict = {"seed": seed, "params": params}
    planted: dict = {}
    if params.get("events"):
        meta["events"] = write_events(out, params, seed)
        meta["customer"] = write_customer(out, params, seed)
    if params.get("docs"):
        d = write_documents(out, params, seed)
        planted["doc_near_pairs"] = d.pop("near_pairs")
        meta["documents"] = d
        e = write_embeddings(out, params, seed)
        planted["vec_near_pairs"] = e.pop("near_pairs")
        meta["embeddings"] = e
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True, indent=1)
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f, sort_keys=True)


def params_key(params: dict, seed: int) -> str:
    blob = json.dumps({"seed": seed, "params": params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def ensure_inputs(cache_root: str, name: str, params: dict, seed: int) -> str:
    """Return the cached input dir for (seed, params), generating it on
    first use. A half-written dir is never visible under the final name."""
    dest = os.path.join(cache_root, f"{name}-s{seed}-{params_key(params, seed)}")
    if os.path.isfile(os.path.join(dest, "meta.json")):
        return dest
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{dest}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        generate(tmp, params, seed)
        os.rename(tmp, dest)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return dest
