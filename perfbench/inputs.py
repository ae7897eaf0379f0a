"""Seeded input derivation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical parquet tables, blueprint and real-series file.
Inputs are written once per seed under the data directory, together with
a record of their sizes, the traffic dimensions the seed varies and why
the workload exists. Sizes stay fixed across seeds so that run-to-run
spread measures the program, not the amount of work.

The curation tables follow the schemas of the catalog's ``documents``
and ``embeddings`` driver tables, so the catalog builders and their
DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. At these sizes a curation step's cost is mostly
# scheduling and per-round driver work, which is what the optimisations
# the benchmark exists for (fewer connected-components rounds or jobs
# per round, the fused near-dup join) change.
SIZES = {"documents": 500, "embeddings": 500}
VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
N_SOURCES = 20

# curation traffic dimensions: how much work the inputs share
CHAIN_SHARE = 0.3          # share of documents that sit in near-dup chains
CHAIN_LEN = (2, 16)        # chain lengths, uniform, inclusive
SEGMENT = 24               # words per chain segment; a member holds two
CHAIN_THRESHOLD = 0.2      # Jaccard threshold of the chain_groups pairs
CC_MAX_ITER = 25           # connected_components' default round limit
CLUSTER_SHARE = 0.2        # share of embeddings in tight clusters
CLUSTER_LEN = (2, 8)
CLUSTER_NOISE = 0.02

# blueprint_cycle dimensions
BP_POINTS = 120            # one-minute slots per series
# single-value providers of similar expression size, so the seed's pick
# does not change the amount of work
FAKE_TYPES = ["ssn", "itin", "email", "phone_number", "name", "ipv4", "zipcode", "iban"]
RANDOM_TYPES = ["uniform", "triangular", "gauss", "expovariate",
                "weibullvariate", "paretovariate", "lognormvariate"]

WHY = {
    "blueprint_cycle": (
        "the product path and the only workload that writes: generate -> "
        "queue -> all sink types -> streaming replay with a redelivered "
        "queue, so plans, functions.fake, sinks and streaming show here"),
    "curation": (
        "document/embedding read path where connected_components' eager "
        "label propagation over chain-shaped near-dup graphs (one round per "
        "hop) and Arrow Python workers with the near-dup pair gather "
        "(embedding_near_dup) do the work"),
}


def _documents(rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """Random documents plus near-duplicate chains. A chain of m
    documents is built from m + 1 random segments: member k is segment k
    followed by segment k + 1, so neighbours share one segment (word-3-gram
    Jaccard about 0.31) and members two or more hops apart share none.
    Every chain is a path in the exact n-gram pair graph, the shape that
    makes min-label propagation take one round per hop. A chain's members
    have consecutive ids and one source and language, as copies of one
    original would."""
    n = SIZES["documents"]
    texts: list[str] = []
    chains: list[int] = []
    sources: list[int] = []
    langs: list[int] = []

    def words(k: int) -> list[str]:
        return [VOCAB[i] for i in rng.integers(0, len(VOCAB), k)]

    # a chain starts with this probability per new document, so that
    # CHAIN_SHARE of the documents sit in chains of the mean length
    mean = (CHAIN_LEN[0] + CHAIN_LEN[1]) / 2
    p_chain = CHAIN_SHARE / (mean * (1 - CHAIN_SHARE) + CHAIN_SHARE)
    while len(texts) < n:
        src, lang = int(rng.integers(0, N_SOURCES)), int(rng.integers(0, len(LANGS)))
        if not chains or rng.random() < p_chain:
            # the first chain has the longest length, so every seed asks
            # connected_components for the same number of rounds
            length = CHAIN_LEN[1] if not chains else int(
                rng.integers(CHAIN_LEN[0], CHAIN_LEN[1] + 1))
            length = min(length, n - len(texts))
            chains.append(length)
            segs = [words(SEGMENT) for _ in range(length + 1)]
            texts.extend(" ".join(segs[k] + segs[k + 1]) for k in range(length))
        else:
            length = 1
            texts.append(" ".join(words(int(rng.integers(10, 100)))))
        sources.extend([src] * length)
        langs.extend([lang] * length)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i}" for i in sources],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return docs, {"chains": len(chains), "chain_docs": sum(chains),
                  "longest_chain": max(chains, default=0)}


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct word-k-grams of a document, as the package's
    ``word_shingles_expr`` forms them for single-space lowercase text."""
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k, 0) + 1)}


def chain_pairs(ids: list[int], texts: list[str], blocks: list[str]) -> list[tuple[int, int]]:
    """Exact word-3-gram Jaccard pairs (id_a < id_b, same block,
    Jaccard rounded to 4 places >= CHAIN_THRESHOLD): the edges the
    ``chain_groups`` step resolves."""
    grams = [shingles(t) for t in texts]
    by_block: dict[str, list[int]] = {}
    for i, b in enumerate(blocks):
        by_block.setdefault(b, []).append(i)
    pairs = []
    for members in by_block.values():
        for x in members:
            for y in members:
                if ids[x] < ids[y]:
                    inter = len(grams[x] & grams[y])
                    union = len(grams[x] | grams[y])
                    if union and round(inter / union, 4) >= CHAIN_THRESHOLD:
                        pairs.append((ids[x], ids[y]))
    return pairs


def label_propagation(pairs: list[tuple[int, int]]) -> tuple[dict[int, int], int]:
    """Min-label propagation as ``operators.dedup.connected_components``
    runs it: returns the final labels and the rounds it takes, the last
    (unchanged) round included."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    rounds = 0
    while True:
        rounds += 1
        new = {v: min([labels[v]] + [labels[u] for u in adj[v]]) for v in adj}
        if new == labels:
            return labels, rounds
        labels = new


def _embeddings(rng: np.random.Generator) -> tuple[pa.Table, dict]:
    n = SIZES["embeddings"]
    vecs: list[np.ndarray] = []
    clusters = 0
    while len(vecs) < n:
        center = rng.normal(size=64)
        if rng.random() < CLUSTER_SHARE / ((CLUSTER_LEN[0] + CLUSTER_LEN[1]) / 2):
            clusters += 1
            size = min(int(rng.integers(CLUSTER_LEN[0], CLUSTER_LEN[1] + 1)), n - len(vecs))
            vecs.extend(center / np.linalg.norm(center) + rng.normal(0, CLUSTER_NOISE, 64)
                        for _ in range(size))
        else:
            vecs.append(center)
    mat = np.stack(vecs)
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return emb, {"clusters": clusters}


def _blueprint(rng: np.random.Generator, data_dir: str) -> dict:
    """One generator per shape and one target per sink type (s3 put, s3
    get, grouped lambda, cloudwatch). The seed picks
    parameters, anomaly counts, target series, fake types and run_id; the
    structure stays fixed so that every seed asks for the same amount of
    work. Targets whose work grows with the values (s3 put/get) select
    series scaled into [signal_min, signal_max]."""
    real_path = os.path.join(data_dir, "real_series.dat")
    with open(real_path, "w") as fh:
        for v in rng.integers(0, 50, BP_POINTS - 17):
            fh.write(f"{v}\n" + ("\n" if rng.random() < 0.05 else ""))
    configs = {
        "constant": {"constant": int(rng.integers(1, 6))},
        "square": {"low_value": int(rng.integers(0, 3)), "high_value": int(rng.integers(3, 9)),
                   "low_width": int(rng.integers(1, 30)), "high_width": int(rng.integers(1, 30))},
        "sinusoidal": {"frequency": round(float(rng.uniform(0.05, 0.2)), 4),
                       "amplitude": round(float(rng.uniform(0.5, 3.0)), 3)},
        "random": {"type": RANDOM_TYPES[int(rng.integers(0, len(RANDOM_TYPES)))]},
        "custom": {"formula": f"t % {int(rng.integers(5, 60))} + {int(rng.integers(0, 4))}"},
        "real": {"path": real_path},
    }
    anomalous = int(rng.integers(0, len(configs)))
    configs[list(configs)[anomalous]]["anomalies"] = [
        {"counts": int(rng.integers(1, 6)), "formula": "datapoint_max + 1"}]
    gens = [{"id": f"ts{i}", "shape": shape, "config": cfg}
            for i, (shape, cfg) in enumerate(configs.items())]
    ids = [g["id"] for g in gens]
    level = ["ts2", "ts4", "ts5"]  # sinusoidal, custom, real: scaled, no heavy tail

    def pick(pool: list[str], k: int) -> list[str]:
        return sorted(rng.choice(pool, size=k, replace=False).tolist())

    targets = [
        {"type": "s3", "action": "put", "prefix": "sensitive/", "generators": ["ts2"],
         "fake_types": pick(FAKE_TYPES, 1), "fake_counts": 1},
        {"type": "s3", "action": "get", "generators": pick(level, 2)},
        {"type": "lambda", "function": "grouped", "group_datapoints": True,
         "generators": pick(ids, 4)},
        {"type": "cloudwatch", "namespace": "Bench/TS", "group_datapoints": True,
         "generators": pick(ids, 5)},
    ]
    return {
        "commons": {"num_points": BP_POINTS, "signal_min": 0, "signal_max": 4,
                    "start_time": "2024-03-01T00:00:00"},
        "generators": gens,
        "targets": targets,
        "run_id": f"bench{int(rng.integers(0, 2**31)):010d}",
    }


def derive(workload: str, seed: int, data_root: str) -> tuple[str, dict]:
    """Write the inputs for ``(workload, seed)`` once and return
    ``(data_dir, record)``. An existing complete derivation is reused."""
    with open(__file__, "rb") as fh:  # a changed derivation gets a fresh directory
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    data_dir = os.path.join(data_root, f"{workload}-s{seed}-{version}")
    rec_path = os.path.join(data_dir, "inputs.json")
    if os.path.exists(rec_path):
        with open(rec_path) as fh:
            return data_dir, json.load(fh)
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(WHY).index(workload)])
    record: dict = {"workload": workload, "seed": seed, "why": WHY[workload]}
    if workload == "curation":
        docs, doc_dims = _documents(rng)
        emb, emb_dims = _embeddings(rng)
        for name, tbl in (("documents", docs), ("embeddings", emb)):
            pq.write_table(tbl, os.path.join(data_dir, f"{name}.parquet"))
        record["rows"] = {"documents": docs.num_rows, "embeddings": emb.num_rows}
        # the pair graph chain_groups resolves, measured here so the
        # record shows the connected-components rounds each seed asks for
        labels, rounds = label_propagation(chain_pairs(
            docs["doc_id"].to_pylist(), docs["text"].to_pylist(), docs["source"].to_pylist()))
        sizes = Counter(labels.values())
        record["dims"] = {"chain_share": CHAIN_SHARE, "chain_len": list(CHAIN_LEN),
                          "cluster_share": CLUSTER_SHARE, "cluster_len": list(CLUSTER_LEN),
                          **doc_dims, **emb_dims,
                          "cc_components": len(sizes), "cc_nodes": len(labels),
                          "cc_longest_component": max(sizes.values(), default=0),
                          "cc_rounds": rounds, "cc_max_iter": CC_MAX_ITER}
    else:
        bp = _blueprint(rng, data_dir)
        with open(os.path.join(data_dir, "blueprint.json"), "w") as fh:
            json.dump(bp, fh, indent=1)
        record["rows"] = {"fact": len(bp["generators"]) * BP_POINTS}
        record["dims"] = {"generators": len(bp["generators"]), "points": BP_POINTS,
                          "targets": [t["type"] + "/" + t.get("action", t.get("function", ""))
                                      for t in bp["targets"]],
                          "fake_types": bp["targets"][0]["fake_types"]}
    tmp = rec_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(record, fh, indent=1)
    os.replace(tmp, rec_path)
    return data_dir, record


def blueprint_doc(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "blueprint.json")) as fh:
        return json.load(fh)
