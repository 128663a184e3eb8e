"""Independent oracles and output checks for the benchmark workloads.

Each oracle is computed once per seed, before the Spark session starts,
and stored as JSON next to the generated inputs:

- ``ep1_metadata``: straight-Python reference semantics
  (``select_bucket_py``, ``novelai_order_py``) plus the sidecar join,
  last-write-wins score and threshold rules of the EP1 job;
- ``llm_curation``, text part: a pure-Python replay of the q88 chain
  (language ID, quality score, exact dedup, MinHash-LSH with the
  program's hash constants, 8-gram decontamination) with the packing
  replayed by ``pack_greedy_py``. DuckDB's list lambdas took 15-20 s
  per seed for the q88 SQL builders, longer than a whole measured run;
- ``llm_curation``, embedding part: the q85/q86 DuckDB seed builder,
  then Lloyd steps, in-cell cosine pairs and a union-find in NumPy.

The ``check_*`` functions compare one run's committed Parquet output
against the stored oracle and return a list of mismatch descriptions
(empty when the run is correct).
"""

from __future__ import annotations

import json
import math
import os
import re

import pyarrow.parquet as pq

from perfbench import gen

AESTHETIC_THRESHOLD = 0.5
CURATION = dict(quality_threshold=0.7, n=3, k=12, bands=4, jaccard_threshold=0.5,
                contam_n=8, budget=256)
SEMDEDUP = dict(k=32, iters=2, threshold=0.99)


# --------------------------------------------------------------------------
# ep1_metadata
# --------------------------------------------------------------------------
def _stem(path: str) -> str:
    base = path.rsplit("/", 1)[-1]
    return base.rsplit(".", 1)[0] if "." in base else base


def _parse_line(raw: str) -> tuple[str, list[str]]:
    parts = raw.split(",", 1)
    rest = parts[1] if len(parts) > 1 else ""
    tags = [t.strip(" ") for t in rest.split(",")]
    return parts[0].strip(" "), [t for t in tags if t != ""]


def oracle_ep1(m: dict) -> dict:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        make_bucket_resolutions,
        select_bucket_py,
    )
    from anime_data_pipeline_spark.operators.tags import novelai_order_py

    p = m["paths"]
    vocab = set()
    with open(p["vocab"], encoding="utf-8") as f:
        next(f)
        for line in f:
            _, name, cat, _ = line.rstrip("\n").split(",")
            if cat == "0":
                vocab.add(name.replace("_", " "))
    side = {}
    for r in pq.read_table(p["sidecars"]).to_pylist():
        side[r["image_stem"].split("_")[0]] = _parse_line(r["raw_line"])
    scores: dict[str, float] = {}
    for fp in p["scores"]:  # later files and later entries win
        with open(fp, encoding="utf-8") as f:
            for entry in json.load(f):
                for k, v in entry.items():
                    scores[_stem(k).split("_")[0]] = float(v)

    cfg = BucketConfig()
    resos = make_bucket_resolutions(cfg)
    rows, seen, missing, below = {}, 0, 0, 0
    for r in pq.read_table(p["images"]).to_pylist():
        if r["is_corrupt"]:
            continue
        seen += 1
        image_id = _stem(r["path"]).split("_")[0]
        score = scores.get(image_id)
        if score is None:
            missing += 1
            continue
        if score < AESTHETIC_THRESHOLD:
            below += 1
            continue
        b = select_bucket_py(r["width"], r["height"], cfg, resos)
        rating, tags = side.get(image_id, (None, None))
        rows[r["path"]] = {
            "rating": rating,
            "tags": tags,
            "ordered_tags": novelai_order_py(tags or [], vocab),
            "train_resolution": [b["train_w"], b["train_h"]],
            "bucket_reso": [b["bucket_w"], b["bucket_h"]],
            "resized_size": [b["resized_w"], b["resized_h"]],
            "ar_error": b["ar_error"],
        }
    report: dict[str, list] = {}
    for row in rows.values():
        key = "%dx%d" % tuple(row["bucket_reso"])
        n, s = report.get(key, (0, 0.0))
        report[key] = [n + 1, s + abs(row["ar_error"])]
    return {
        "rows": rows,
        "audit": {"total_error": missing, "below_threshold": below, "total_seen": seen},
        "report": {k: [n, s / n] for k, (n, s) in report.items()},
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def check_ep1(expected: dict, out_dir: str, audit: dict, report: list) -> list[str]:
    bad = []
    got = pq.read_table(out_dir).to_pylist()
    exp = expected["rows"]
    if len(got) != len(exp):
        bad.append(f"row count {len(got)} != {len(exp)}")
    for r in got:
        e = exp.get(r["image_key"])
        if e is None:
            bad.append(f"unexpected row {r['image_key']}")
        elif (
            r["rating"] != e["rating"]
            or r["tags"] != e["tags"]
            or r["ordered_tags"] != e["ordered_tags"]
            or [r["train_resolution"]["w"], r["train_resolution"]["h"]] != e["train_resolution"]
            or [r["bucket_reso"]["w"], r["bucket_reso"]["h"]] != e["bucket_reso"]
            or [r["resized_size"]["w"], r["resized_size"]["h"]] != e["resized_size"]
            or not _close(r["ar_error"], e["ar_error"])
        ):
            bad.append(f"row {r['image_key']} differs")
        if len(bad) > 5:
            break
    if audit != expected["audit"]:
        bad.append(f"audit {audit} != {expected['audit']}")
    rep = {"%dx%d" % (w, h): (n, a) for w, h, n, a in report}
    er = expected["report"]
    if set(rep) != set(er) or any(
        rep[k][0] != er[k][0] or not _close(rep[k][1], er[k][1]) for k in er
    ):
        bad.append("bucket_report differs")
    return bad


# --------------------------------------------------------------------------
# llm_curation, text part
# --------------------------------------------------------------------------
_PUNCT = re.compile("[^a-zA-Z0-9 ]")
_DIGIT = re.compile("[0-9]")


def _quality_score(text: str, toks: list[str]) -> float:
    """quality_columns' score, summed in the same order as the program."""
    from anime_data_pipeline_spark.operators.textstats import STOPWORDS

    n_chars, n_tok = len(text), len(toks)
    punct = len(_PUNCT.findall(text))
    digits = len(_DIGIT.findall(text))
    stop = sum(1 for t in toks if t in STOPWORDS)
    mean_tok = n_chars / max(n_tok, 1)
    return (
        (0.25 if 3 <= mean_tok <= 10 else 0.0)
        + (0.25 if punct / max(n_chars, 1) <= 0.1 else 0.0)
        + (0.2 if digits / max(n_chars, 1) <= 0.2 else 0.0)
        + (0.15 if stop / max(n_tok, 1) > 0 else 0.0)
        + (0.15 if n_chars >= 50 else 0.0)
    )


def _language(toks: list[str]) -> str:
    from anime_data_pipeline_spark.operators.textstats import LANG_PROFILES

    hits = {lang: sum(1 for t in toks if t in p) for lang, p in LANG_PROFILES.items()}
    best = max(hits.values())
    if best == 0:
        return "und"
    return next(lang for lang in LANG_PROFILES if hits[lang] == best)


def _shingles(th, n: int):
    """Distinct n-token shingle hashes (the program's fold) as an array."""
    import numpy as np

    from anime_data_pipeline_spark.functions.hashing import P

    m = len(th) - n + 1
    if m <= 0:
        return np.empty(0, dtype=np.int64)
    v = th[:m]
    for j in range(1, n):
        v = (v * 31 + th[j : j + m]) % P
    return np.unique(v)


def oracle_corpus(m: dict) -> dict:
    """Pure-Python replay of hygiene → exact dedup → MinHash-LSH →
    decontamination → greedy packing. Exact dedup compares texts
    directly (the program compares a pair of 30-bit hashes)."""
    from anime_data_pipeline_spark.functions.hashing import P, perm_constants, polyhash_py
    from anime_data_pipeline_spark.operators.packing import pack_greedy_py

    import numpy as np

    c = CURATION
    d = m["paths"]["dir"]
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
    bench = pq.read_table(os.path.join(d, "bench.parquet")).to_pylist()
    tok_hash: dict[str, int] = {}

    def th(text: str):
        out = []
        for t in text.split(" "):
            if t == "":
                continue
            h = tok_hash.get(t)
            if h is None:
                h = tok_hash[t] = polyhash_py(t)
            out.append(h)
        return np.array(out, dtype=np.int64)

    keeper: dict[str, int] = {}
    info = {}
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t != ""]
        if _language(toks) != "en" or _quality_score(r["text"], toks) < c["quality_threshold"]:
            continue
        info[r["doc_id"]] = (r["source"], r["text"], len(toks))
        k = keeper.get(r["text"])
        keeper[r["text"]] = r["doc_id"] if k is None else min(k, r["doc_id"])
    uniq = sorted(keeper.values())

    rows_per_band = c["k"] // c["bands"]
    a_s = np.array([a for a, _ in perm_constants(c["k"])], dtype=np.int64)
    b_s = np.array([b for _, b in perm_constants(c["k"])], dtype=np.int64)
    sets, buckets = {}, {}
    for i in uniq:
        hs = _shingles(th(info[i][1]), c["n"])
        sets[i] = set(hs.tolist())
        if not len(hs):
            continue
        sig = ((a_s[:, None] * hs[None, :] + b_s[:, None]) % P).min(axis=1).tolist()
        for j in range(c["bands"]):
            v = sig[j * rows_per_band]
            for r_ in range(1, rows_per_band):
                v = v * 31 + sig[j * rows_per_band + r_]
            buckets.setdefault((j, v), []).append(i)
    cand = set()
    for ids in buckets.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((min(ids[x], ids[y]), max(ids[x], ids[y])))
    losers = set()
    verified = 0
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        if inter / (len(sets[a]) + len(sets[b]) - inter) >= c["jaccard_threshold"]:
            losers.add(b)
            verified += 1

    n = c["contam_n"]
    universe = np.unique(np.concatenate([_shingles(th(r["text"]), n) for r in bench]))
    by_src: dict[str, list] = {}
    for i in uniq:
        if i in losers:
            continue
        source, text, n_tok = info[i]
        if np.isin(_shingles(th(text), n), universe, assume_unique=True).any():
            continue
        by_src.setdefault(source, []).append((i, n_tok))
    rows = []
    for source, kept in by_src.items():
        chunks = pack_greedy_py([t for _, t in kept], c["budget"])
        rows += [[i, source, t, ch] for (i, t), ch in zip(kept, chunks)]
    return {"rows": sorted(rows), "candidates": len(cand), "verified": verified}


def check_corpus(expected: dict, out_dir: str) -> list[str]:
    t = pq.read_table(out_dir)
    got = sorted(
        [r["doc_id"], r["source"], r["n_tokens"], r["chunk_id"]] for r in t.to_pylist()
    )
    if got == expected["rows"]:
        return []
    return [f"packed manifest differs ({len(got)} rows vs {len(expected['rows'])})"]


# --------------------------------------------------------------------------
# llm_curation, embedding part
# --------------------------------------------------------------------------
def _assign(v, vn, cids, cents):
    """Nearest centroid by cosine, ties to the smaller cell id."""
    import numpy as np

    cn = np.linalg.norm(cents, axis=1)
    cos = (v @ cents.T) / (vn[:, None] * cn[None, :])
    order = np.argsort(cids, kind="stable")
    best = order[np.argmax(cos[:, order], axis=1)]
    return cids[best]


def oracle_semdedup(m: dict) -> dict:
    """Seeds from the q85/q86 DuckDB builder; Lloyd steps, in-cell
    cosine pairs and a union-find for the components in NumPy."""
    import duckdb
    import numpy as np

    from anime_data_pipeline_spark.operators.similarity import seed_centroids_sql

    s = SEMDEDUP
    t = pq.read_table(os.path.join(m["paths"]["dir"], "embeddings.parquet"))
    ids = np.asarray(t.column("vec_id").to_numpy(), dtype=np.int64)
    v = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
    vn = np.linalg.norm(v, axis=1)
    con = duckdb.connect()
    try:
        con.register("embeddings", t)
        seeds = con.execute(
            seed_centroids_sql("embeddings", "vec_id", "embedding", s["k"])
        ).fetchall()
    finally:
        con.close()
    cids = np.array([c for c, _ in seeds], dtype=np.int64)
    cents = np.array([cv for _, cv in seeds], dtype=np.float64)
    for _ in range(s["iters"]):
        cell = _assign(v, vn, cids, cents)
        cids = np.unique(cell)
        cents = np.stack([v[cell == c].mean(axis=0) for c in cids])
        cents = np.floor(cents * 1e6 + 0.5) / 1e6
    cell = _assign(v, vn, cids, cents)

    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kept, scored = 0, 0
    unit = v / vn[:, None]
    for c in cids:
        idx = np.nonzero(cell == c)[0]
        scored += len(idx) * (len(idx) - 1) // 2
        sims = unit[idx] @ unit[idx].T
        for x, y in zip(*np.nonzero(np.triu(sims >= s["threshold"], k=1))):
            kept += 1
            ra, rb = find(int(ids[idx[x]])), find(int(ids[idx[y]]))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    rows = sorted(
        [int(i), int(c), find(int(i)), int(i) == find(int(i))] for i, c in zip(ids, cell)
    )
    return {"rows": rows, "kept_pairs": kept, "scored_pairs": scored}


def check_semdedup(expected: dict, out_dir: str) -> list[str]:
    t = pq.read_table(out_dir)
    got = sorted(
        [r["vec_id"], r["cell"], r["component"], r["keep"]] for r in t.to_pylist()
    )
    if got == expected["rows"]:
        return []
    n_bad = sum(1 for a, b in zip(got, expected["rows"]) if a != b)
    return [f"semdedup rows differ ({len(got)} vs {len(expected['rows'])}, {n_bad} unequal)"]


def oracle_llm(m: dict) -> dict:
    return {"corpus": oracle_corpus(m), "semdedup": oracle_semdedup(m)}


ORACLES = {"ep1_metadata": oracle_ep1, "llm_curation": oracle_llm}


def prepare(workload: str, seed: int, cache_dir: str) -> tuple[dict, dict]:
    """Generate the inputs and compute the oracle for (workload, seed),
    reusing a previous identical preparation under ``cache_dir``."""
    mpath = os.path.join(cache_dir, "manifest.json")
    opath = os.path.join(cache_dir, "oracle.json")
    if os.path.exists(mpath) and os.path.exists(opath):
        with open(mpath) as f, open(opath) as g:
            return json.load(f), json.load(g)
    tmp = cache_dir + ".tmp"
    if os.path.exists(tmp):
        import shutil

        shutil.rmtree(tmp)
    os.makedirs(tmp)
    manifest = gen.GENERATORS[workload](seed, tmp)
    # the manifest's paths must point at the final directory
    manifest = json.loads(json.dumps(manifest).replace(tmp, cache_dir))
    os.rename(tmp, cache_dir)
    expected = ORACLES[workload](manifest)
    for path, obj in ((opath, expected), (mpath, manifest)):
        with open(path + ".part", "w") as f:
            json.dump(obj, f)
        os.rename(path + ".part", path)
    return manifest, expected
