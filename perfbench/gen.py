"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy`` seed and an output directory and
writes plain files only (Parquet, JSON, CSV); the program under test
receives nothing else. The same seed gives byte-identical files: all
randomness comes from one ``numpy.random.Generator``, and the writers
emit the same bytes for the same values.

Each generator returns a manifest: the input sizes, the stated shares
(duplicates, contamination, coverage) and the paths the pipeline reads.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. They keep one benchmark run (two fresh sessions, a
# cold run and two warm runs) near a minute on a 4-core machine; the
# per-run cost at these sizes is mostly plan building and job start-up.
EP1_IMAGES = 3_000
EP1_MULTI_PAGE_SHARE = 0.10
EP1_CORRUPT_SHARE = 0.02
EP1_EXACT_RESO_SHARE = 0.30
EP1_SIDECAR_SHARE = 0.90
EP1_SCORE_SHARE = 0.80
EP1_SCORE_FILES = 4
EP1_TAGS_MIN, EP1_TAGS_MAX = 5, 40
# The reference vocabulary (assets/selected_tags.csv) has 9,083 rows:
# 4 rating tags, 6,951 general tags and 2,128 character tags.
VOCAB_RATING = ("general", "sensitive", "questionable", "explicit")
VOCAB_GENERAL = 6_951
VOCAB_CHARACTER = 2_128

CORPUS_DOCS = 2_000
CORPUS_EXACT_SHARE = 0.15
CORPUS_NEAR_SHARE = 0.10
CORPUS_CONTAM_SHARE = 0.05
CORPUS_BENCH_DOCS = 200
CORPUS_NEAR_SUFFIX = " qq ww ee rr"
CORPUS_SOURCES = ("web", "books", "wiki", "forum")

SEMDEDUP_VECTORS = 2_000
SEMDEDUP_DIM = 64
SEMDEDUP_CENTERS = 64
SEMDEDUP_NEAR_SHARE = 0.10

_ADJ = (
    "long short medium blue red green black white pink purple brown grey "
    "yellow orange silver golden dark light bright pale open closed small "
    "large striped checkered frilled torn wet shiny hooded sleeveless "
    "pleated floral layered cropped high low split twin single double "
    "wavy straight messy spiky curly braided tied loose thin thick"
).split()
_NOUN = (
    "hair eyes skirt dress shirt jacket ribbon bow hat gloves boots shoes "
    "socks thighhighs sleeves collar necktie scarf cape coat kimono apron "
    "belt bag umbrella sword flower leaf tree sky cloud water window door "
    "chair table bed book cup cat dog bird fish moon star sun rain snow "
    "building street room background border frame lineart outline shadow"
).split()
_WORDS_EN = (
    "time year people way day man thing woman life child world school state "
    "family student group country problem hand part place case week company "
    "system program question work government number night point home water "
    "room mother area money story fact month lot right study book eye job "
    "word business issue side kind head house service friend father power "
    "hour game line end member law car city community name president team "
    "minute idea kid body information back parent face others level office "
    "door health person art war history party result change morning reason "
    "research girl guy moment air teacher force education"
).split()
_STOP_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_ES = ("el", "la", "de", "que", "y", "en", "un", "es")
_WORDS_ES = "casa perro gato libro mesa ciudad tiempo mundo vida agua".split()


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _finish(manifest: dict, files: list[str]) -> dict:
    manifest["input_files"] = sorted(os.path.basename(f) for f in files)
    manifest["input_bytes"] = sum(os.path.getsize(f) for f in files)
    manifest["input_digest"] = _digest(files)
    return manifest


# --------------------------------------------------------------------------
# ep1_metadata: image manifest + sidecar lines + aesthetic JSON + vocab CSV
# --------------------------------------------------------------------------
def _vocab(rng: np.random.Generator) -> tuple[list[str], list[str]]:
    """(general names, character names) in underscore form, unique."""
    pairs = [f"{a}_{n}" for a in _ADJ for n in _NOUN]
    rng.shuffle(pairs)
    general = ["1girl", "2girls", "multiple_girls", "1boy", "solo", "smile"]
    general += [f"{p}_{i // len(pairs)}" if i >= len(pairs) else p
                for i, p in enumerate(pairs * 3)][: VOCAB_GENERAL - len(general)]
    syll = ("ka", "mi", "ri", "to", "na", "yu", "ha", "ru", "shi", "ko", "sa", "no")
    series = ("(idolmaster)", "(touhou)", "(fate)", "(pokemon)", "(genshin_impact)")
    character = []
    for i in range(VOCAB_CHARACTER):
        s = rng.integers(0, len(syll), size=3)
        character.append(
            f"{''.join(syll[j] for j in s)}_{i}_{series[i % len(series)]}"
        )
    return general, character


def gen_ep1(seed: int, out: str) -> dict:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        make_bucket_resolutions,
    )

    rng = np.random.default_rng(seed)
    general, character = _vocab(rng)

    # vocab CSV in the selected_tags.csv shape (tag_id,name,category,count)
    rows = [(n, 9) for n in VOCAB_RATING] + [(n, 0) for n in general]
    rows += [(n, 4) for n in character]
    counts = np.sort(rng.zipf(1.5, size=len(rows)).astype(np.int64))[::-1] * 7
    vocab_path = os.path.join(out, "selected_tags.csv")
    with open(vocab_path, "w", encoding="utf-8", newline="\n") as f:
        f.write("tag_id,name,category,count\n")
        for i, ((name, cat), c) in enumerate(zip(rows, counts)):
            f.write(f"{i},{name},{cat},{int(c)}\n")

    # posts → pages: ~10% of images belong to multi-page posts
    ids, pages = [], []
    next_id = int(rng.integers(10_000, 20_000))
    while len(ids) < EP1_IMAGES:
        next_id += int(rng.integers(1, 50))
        n = int(rng.integers(2, 5)) if rng.random() < EP1_MULTI_PAGE_SHARE / 2.5 else 1
        for p in range(n):
            ids.append(next_id)
            pages.append(p)
    ids, pages = ids[:EP1_IMAGES], pages[:EP1_IMAGES]
    n_img = len(ids)
    resos = make_bucket_resolutions(BucketConfig())
    exact = rng.random(n_img) < EP1_EXACT_RESO_SHARE
    pick = rng.integers(0, len(resos), size=n_img)
    w = np.clip(rng.lognormal(7.0, 0.35, size=n_img), 200, 6000).astype(np.int32)
    h = np.clip(rng.lognormal(7.0, 0.35, size=n_img), 200, 6000).astype(np.int32)
    for i in np.nonzero(exact)[0]:
        w[i], h[i] = resos[pick[i]]
    length = np.clip(rng.lognormal(12.5, 0.8, size=n_img), 2_000, 40_000_000)
    dirs = [f"/data/anime/part{d}" for d in range(8)]
    paths = [f"{dirs[i % 8]}/{ids[i]}_p{pages[i]}.jpg" for i in range(n_img)]
    images = pa.table(
        {
            "path": pa.array(paths, pa.string()),
            "length": pa.array(length.astype(np.int64), pa.int64()),
            "width": pa.array(w, pa.int32()),
            "height": pa.array(h, pa.int32()),
            "is_corrupt": pa.array(rng.random(n_img) < EP1_CORRUPT_SHARE, pa.bool_()),
        }
    )
    images_path = os.path.join(out, "images.parquet")
    _write_parquet(images, images_path)

    # sidecar lines (one per post id, the reference's <id>.txt), Zipf tags
    posts = sorted(set(ids))
    names = [n.replace("_", " ") for n in general + character]
    extra = ("artist name", "x resolution", "aspect ratio 4 3", "watermark text")
    stems, lines = [], []
    for pid in posts:
        if rng.random() >= EP1_SIDECAR_SHARE:
            continue
        k = int(rng.integers(EP1_TAGS_MIN, EP1_TAGS_MAX + 1))
        ranks = np.minimum(rng.zipf(1.3, size=k) - 1, len(names) - 1)
        tags = [names[r] for r in ranks]
        if rng.random() < 0.2:
            tags.append(extra[int(rng.integers(0, len(extra)))])
        rating = VOCAB_RATING[int(rng.integers(0, 4))]
        stems.append(str(pid))
        lines.append(rating + ", " + ", ".join(tags))
    sidecars = pa.table(
        {"image_stem": pa.array(stems, pa.string()), "raw_line": pa.array(lines, pa.string())}
    )
    sidecars_path = os.path.join(out, "sidecars.parquet")
    _write_parquet(sidecars, sidecars_path)

    # aesthetic JSON: list of single-entry dicts, overlapping keys across
    # files (later files win), ~80% of image ids covered overall
    covered = [pid for pid in posts if rng.random() < EP1_SCORE_SHARE]
    score_paths = []
    for fi in range(EP1_SCORE_FILES):
        take = [pid for pid in covered if rng.random() < 0.4] if fi else covered[::2]
        if fi == EP1_SCORE_FILES - 1:
            take = covered[1::2]
        entries = [
            {f"/data/anime/part{pid % 8}/{pid}_p0.jpg": round(float(rng.beta(4, 3)), 4)}
            for pid in take
        ]
        p = os.path.join(out, f"aesthetic_{fi}.json")
        with open(p, "w", encoding="utf-8") as f:
            json.dump(entries, f, separators=(", ", ": "))
        score_paths.append(p)

    manifest = {
        "workload": "ep1_metadata",
        "seed": seed,
        "rows_in": n_img,
        "sizes": {
            "images": n_img,
            "posts": len(posts),
            "sidecar_lines": len(stems),
            "aesthetic_files": EP1_SCORE_FILES,
            "vocab_rows": len(rows),
        },
        "shares": {
            "corrupt": EP1_CORRUPT_SHARE,
            "multi_page": EP1_MULTI_PAGE_SHARE,
            "exact_resolution": EP1_EXACT_RESO_SHARE,
            "sidecar_coverage": EP1_SIDECAR_SHARE,
            "score_coverage": EP1_SCORE_SHARE,
        },
        "paths": {
            "images": images_path,
            "sidecars": sidecars_path,
            "scores": score_paths,
            "vocab": vocab_path,
        },
    }
    return _finish(manifest, [images_path, sidecars_path, vocab_path, *score_paths])


# --------------------------------------------------------------------------
# llm_curation, text part: documents with exact / near / contaminated copies
# --------------------------------------------------------------------------
def _sentence(rng: np.random.Generator, words, stops, n: int) -> str:
    w = rng.choice(len(words), size=n)
    s = rng.random(n) < 0.3
    sp = rng.choice(len(stops), size=n)
    return " ".join(stops[sp[i]] if s[i] else words[w[i]] for i in range(n))


def gen_corpus(seed: int, out: str) -> dict:
    """documents.parquet (with exact, near and contaminated copies) and
    bench.parquet, the decontamination set."""
    rng = np.random.default_rng((seed, 1))
    n_exact = int(CORPUS_DOCS * CORPUS_EXACT_SHARE)
    n_near = int(CORPUS_DOCS * CORPUS_NEAR_SHARE)
    n_contam = int(CORPUS_DOCS * CORPUS_CONTAM_SHARE)
    n_base = CORPUS_DOCS - n_exact - n_near - n_contam

    # words carry a letter suffix so shingles rarely collide by chance
    vocab = [f"{w}{a}{b}" for a in "bdfgkm" for b in "aeiou" for w in _WORDS_EN]
    bench = [
        _sentence(rng, vocab, _STOP_EN, int(rng.integers(40, 120)))
        for _ in range(CORPUS_BENCH_DOCS)
    ]
    base = []
    for i in range(n_base):
        r = rng.random()
        n = int(np.clip(rng.lognormal(4.3, 0.6), 12, 600))
        if r < 0.04:  # Spanish: dropped by language ID
            base.append(_sentence(rng, _WORDS_ES, _STOP_ES, n))
        elif r < 0.08:  # digit-heavy: dropped by the quality gate
            base.append(" ".join(str(x) for x in rng.integers(0, 10**6, size=n)))
        else:
            base.append(_sentence(rng, vocab, _STOP_EN, n))
    src = rng.integers(0, len(CORPUS_SOURCES), size=n_base)
    doc_ids = np.arange(n_base, dtype=np.int64) * 3 + 1
    texts, ids, sources = list(base), list(doc_ids), [CORPUS_SOURCES[s] for s in src]
    copies = (
        (n_exact, 1_000_000, lambda t: t),
        (n_near, 2_000_000, lambda t: t + CORPUS_NEAR_SUFFIX),
        (n_contam, 3_000_000, None),
    )
    for count, offset, fn in copies:
        picks = rng.choice(n_base, size=count, replace=False)
        for j in picks:
            if fn is None:
                b = bench[int(rng.integers(0, CORPUS_BENCH_DOCS))]
                text = base[j] + " " + " ".join(b.split(" ")[:30])
            else:
                text = fn(base[j])
            ids.append(int(doc_ids[j]) + offset)
            texts.append(text)
            sources.append(sources[j])
    order = rng.permutation(len(ids))
    docs = pa.table(
        {
            "doc_id": pa.array([int(ids[i]) for i in order], pa.int64()),
            "source": pa.array([sources[i] for i in order], pa.string()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    docs_path = os.path.join(out, "documents.parquet")
    _write_parquet(docs, docs_path)
    bench_tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(CORPUS_BENCH_DOCS, dtype=np.int64) + 9_000_000),
            "text": pa.array(bench, pa.string()),
        }
    )
    bench_path = os.path.join(out, "bench.parquet")
    _write_parquet(bench_tbl, bench_path)
    return {
        "rows_in": len(ids),
        "sizes": {"documents": len(ids), "bench_documents": CORPUS_BENCH_DOCS},
        "shares": {
            "exact_copies": CORPUS_EXACT_SHARE,
            "near_copies": CORPUS_NEAR_SHARE,
            "contaminated": CORPUS_CONTAM_SHARE,
        },
        "files": [docs_path, bench_path],
    }


# --------------------------------------------------------------------------
# llm_curation, embedding part: clustered vectors with near-copies
# --------------------------------------------------------------------------
def gen_semdedup(seed: int, out: str) -> dict:
    """embeddings.parquet: vectors around random centers plus near-copies."""
    rng = np.random.default_rng((seed, 2))
    d = SEMDEDUP_DIM
    n_near = int(SEMDEDUP_VECTORS * SEMDEDUP_NEAR_SHARE)
    n_base = SEMDEDUP_VECTORS - n_near
    centers = rng.normal(size=(SEMDEDUP_CENTERS, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    which = rng.integers(0, SEMDEDUP_CENTERS, size=n_base)
    # per-coordinate noise 0.05: same-center pairs sit near cosine 0.86,
    # far below the 0.99 dedup threshold
    base = centers[which] + rng.normal(scale=0.05, size=(n_base, d))
    src = rng.choice(n_base, size=n_near, replace=False)
    near = base[src] + rng.normal(scale=0.002, size=(n_near, d))
    vecs = np.vstack([base, near]).astype(np.float32)
    ids = np.concatenate(
        [np.arange(n_base, dtype=np.int64) * 2, 1_000_000 + src.astype(np.int64) * 2]
    )
    order = rng.permutation(len(ids))
    emb = pa.table(
        {
            "vec_id": pa.array(ids[order], pa.int64()),
            "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
        }
    )
    emb_path = os.path.join(out, "embeddings.parquet")
    _write_parquet(emb, emb_path)
    return {
        "rows_in": len(ids),
        "sizes": {"vectors": len(ids), "dim": d, "centers": SEMDEDUP_CENTERS},
        "files": [emb_path],
    }


def gen_llm(seed: int, out: str) -> dict:
    """Documents for the pretraining chain plus document embeddings for
    semantic dedup, in one input directory."""
    parts = [gen_corpus(seed, out), gen_semdedup(seed, out)]
    manifest = {
        "workload": "llm_curation",
        "seed": seed,
        "rows_in": sum(p["rows_in"] for p in parts),
        "sizes": parts[0]["sizes"] | parts[1]["sizes"],
        "shares": parts[0]["shares"] | {"embedding_near_copies": SEMDEDUP_NEAR_SHARE},
        "paths": {"dir": out},
    }
    return _finish(manifest, parts[0]["files"] + parts[1]["files"])


GENERATORS = {"ep1_metadata": gen_ep1, "llm_curation": gen_llm}
