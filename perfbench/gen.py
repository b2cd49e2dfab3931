"""Seeded input generators for the benchmark workloads, with ground truth.

Every generator is a pure function of its seed and size arguments: the same
arguments give byte-identical files, and the returned `truth` dict holds the
counts the engine must reproduce exactly (see `check.py`).
"""
import hashlib
import json
import os
import random


def _dumps(obj):
    # one fixed serialisation: byte-identical repeats stay byte-identical
    return json.dumps(obj, separators=(", ", ": "), ensure_ascii=True)


def _shape(n_releases, legacy_share, dup_id_share, mean=8):
    """The collection's shape, the same for every seed so that every seed
    costs the same work: releases per ocid for exactly `n_releases // mean`
    ocids summing to `n_releases` (Pareto-skewed: most ocids have a few
    releases, a tail has dozens), which ocids are OCDS 1.0 (whole
    contracting processes, until `legacy_share` of the releases), and which
    repeat an id inside an array."""
    rng = random.Random(n_releases)
    n_ocids = max(1, n_releases // mean)
    weights = [rng.paretovariate(1.5) for _ in range(n_ocids)]
    spare = n_releases - n_ocids
    sizes = [1 + int(spare * w / sum(weights)) for w in weights]
    for i in rng.sample(range(n_ocids), n_releases - sum(sizes)):
        sizes[i] += 1
    legacy, n_legacy = set(), 0
    for i in rng.sample(range(n_ocids), n_ocids):
        if n_legacy >= legacy_share * n_releases:
            break
        legacy.add(i)
        n_legacy += sizes[i]
    dup = {i for i in range(n_ocids) if i not in legacy and rng.random() < dup_id_share * 4}
    return sizes, legacy, dup, n_legacy


def _release(rng, ocid, j, legacy, dup_ids):
    """One release of `ocid` (the j-th). `legacy` is the OCDS 1.0 shape
    (inline organisations, no parties); `dup_ids` repeats a party/award id
    with different content, which the merge must handle."""
    buyer = rng.randint(1, 400)
    supplier = rng.randint(1, 3000)
    amount = round(rng.uniform(100, 2_000_000), 2)
    stage = ["planning", "tender", "award", "contract"][min(j, 3)]
    rel = {
        "ocid": ocid,
        "id": f"{ocid}-{j:03d}",
        "date": f"20{10 + j // 365 % 14:02d}-{1 + j // 28 % 12:02d}-{1 + j % 28:02d}T"
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z",
        "tag": [stage],
        "initiationType": "tender",
    }
    if legacy:
        rel["buyer"] = {"name": f"Buyer {buyer}",
                        "identifier": {"scheme": "GB-COH", "id": f"B{buyer:05d}"}}
        rel["tender"] = {"id": f"{ocid}-t", "title": f"Tender {rng.randint(1, 99999)}",
                         "status": "active",
                         "value": {"amount": amount, "currency": "EUR"},
                         "tenderers": [{"name": f"Supplier {supplier}",
                                        "identifier": {"scheme": "GB-COH",
                                                       "id": f"S{supplier:05d}"}}]}
        if j >= 2:
            rel["awards"] = [{"id": f"{ocid}-a1", "status": "active",
                              "value": {"amount": amount, "currency": "EUR"},
                              "suppliers": [{"name": f"Supplier {supplier}",
                                             "identifier": {"scheme": "GB-COH",
                                                            "id": f"S{supplier:05d}"}}]}]
    else:
        parties = [
            {"id": f"GB-COH-B{buyer:05d}", "name": f"Buyer {buyer}", "roles": ["buyer"]},
            {"id": f"GB-COH-S{supplier:05d}", "name": f"Supplier {supplier}",
             "roles": ["supplier", "tenderer"]},
        ]
        if dup_ids:
            parties.append({"id": f"GB-COH-S{supplier:05d}",
                            "name": f"Supplier {supplier} Ltd", "roles": ["tenderer"]})
        rel["parties"] = parties
        rel["buyer"] = {"id": f"GB-COH-B{buyer:05d}", "name": f"Buyer {buyer}"}
        rel["tender"] = {"id": f"{ocid}-t", "title": f"Tender {rng.randint(1, 99999)}",
                         "status": "active",
                         "value": {"amount": amount, "currency": "EUR"},
                         "items": [{"id": str(k), "description": f"Item {rng.randint(1, 500)}",
                                    "quantity": rng.randint(1, 50)}
                                   for k in range(1, rng.randint(1, 3) + 1)]}
        if j >= 2:
            awards = [{"id": f"{ocid}-a1", "status": "active",
                       "value": {"amount": amount, "currency": "EUR"},
                       "suppliers": [{"id": f"GB-COH-S{supplier:05d}",
                                      "name": f"Supplier {supplier}"}]}]
            if dup_ids:
                awards.append({"id": f"{ocid}-a1", "status": "pending",
                               "value": {"amount": round(amount / 2, 2), "currency": "EUR"}})
            rel["awards"] = awards
    return rel


def _package(rng, version, releases, n):
    return {
        "uri": f"https://example.org/packages/{n}.json",
        "version": version,
        "publisher": {"name": "Perfbench Publisher", "scheme": "GB-COH", "uid": "P0001"},
        "publishedDate": f"2024-{1 + n % 12:02d}-{1 + n % 28:02d}T00:00:00Z",
        "license": "https://creativecommons.org/licenses/by/4.0/",
        "publicationPolicy": "https://example.org/policy",
        "releases": releases,
    }


def ocds_collection(seed, n_releases, releases_per_file, legacy_share=0.15,
                    repeat_share=0.04, dup_id_share=0.03):
    """A release-package collection of exactly `n_releases` distinct releases,
    in `ceil(n_releases / releases_per_file)` files (at least 3). The counts
    depend on the sizes only, not on the seed.

    Returns (files, truth): `files` is an ordered list of (name, bytes);
    `truth` holds the counts a correct load must reproduce:
      files, items (release rows, repeats included), distinct_data (distinct
      release contents), compiled (one per ocid), check_failures (one per
      row of an injected schema-invalid release, repeats included),
      legacy_items (OCDS 1.0 rows), and per_file, the same per file."""
    rng = random.Random(seed)
    tag = hashlib.sha1(str(seed).encode()).hexdigest()[:6]
    sizes, legacy, dup, n_legacy = _shape(n_releases, legacy_share, dup_id_share)
    invalid = max(1, n_releases // 500)
    pools = {"1.0": [], "1.1": []}
    for i, k in enumerate(sizes):
        ocid = f"ocds-{tag}-{i:06d}"
        for j in range(k):
            pools["1.0" if i in legacy else "1.1"].append(
                _release(rng, ocid, j, i in legacy, i in dup and j == k - 1))
    # schema-invalid releases: `tag` a string, not an array -- exactly one
    # schema error each
    for r in rng.sample(pools["1.1"], invalid):
        r["tag"] = r["tag"][0]
    n_files = -(-n_releases // releases_per_file)
    assert n_files >= 3, "1.1 and 1.0 files, and a second 1.1 file for repeats"
    n_files_legacy = min(n_files - 1, max(1, round(n_files * n_legacy / n_releases)))
    files = []
    for version, n_chunks in (("1.1", n_files - n_files_legacy), ("1.0", n_files_legacy)):
        pool = pools[version]
        rng.shuffle(pool)
        chunks = [pool[len(pool) * c // n_chunks:len(pool) * (c + 1) // n_chunks]
                  for c in range(n_chunks)]
        # byte-identical repeats: a valid 1.1 release re-published in another
        # file (never twice in one file: a file's items are keyed by position)
        placed = 0
        while version == "1.1" and n_chunks > 1 and placed < int(n_releases * repeat_share):
            src = rng.randrange(n_chunks)
            dst = (src + 1 + rng.randrange(n_chunks - 1)) % n_chunks
            rel = rng.choice(chunks[src])
            if isinstance(rel["tag"], list) and all(r is not rel for r in chunks[dst]):
                chunks[dst].append(rel)
                placed += 1
        for chunk in chunks:
            files.append((_dumps(_package(rng, version, chunk, len(files))).encode(), {
                "items": len(chunk),
                "releases": [r["id"] for r in chunk],
                "check_failures": sum(isinstance(r["tag"], str) for r in chunk)}))
    # interleave versions the way a crawl lands them, deterministically
    rng.shuffle(files)
    per_file = {f"pkg-{i:05d}.json": dict(info, bytes=len(data))
                for i, (data, info) in enumerate(files)}
    files = [(f"pkg-{i:05d}.json", data) for i, (data, _) in enumerate(files)]
    truth = subset_truth(per_file, per_file)
    truth.update(compiled=len(sizes), legacy_items=n_legacy, per_file=per_file,
                 input_bytes=sum(len(data) for _, data in files))
    return files, truth


def subset_truth(per_file, names):
    """Counts a correct load of just the files `names` must reproduce."""
    return {"files": len(names),
            "items": sum(per_file[n]["items"] for n in names),
            "distinct_data": len({r for n in names for r in per_file[n]["releases"]}),
            "check_failures": sum(per_file[n]["check_failures"] for n in names)}


def write_files(files, directory):
    os.makedirs(directory, exist_ok=True)
    for name, data in files:
        with open(os.path.join(directory, name), "wb") as f:
            f.write(data)


def pair_corpus(seed, n_docs, n_vecs, dim=64):
    """`documents` and `embeddings` tables with the shape of the engine's
    sf0.1 test tables: a 30-token vocabulary, 10-89 tokens per document, 20
    sources x 5 languages, 5% near-duplicates (a same-source earlier
    document plus one token), and unit-norm Gaussian vectors in 10 labels.
    Lengths, sources, labels and which documents are duplicates are the same
    for every seed; the seed draws fresh tokens, ids and vectors, so every
    hash and bucket changes while the near-duplicate density stays fixed.

    Returns (tables, truth) with tables = {name: pyarrow.Table}."""
    import numpy as np
    import pyarrow as pa
    rng = random.Random(seed)
    shape = random.Random(n_docs)  # lengths, sources, duplicates: seed-independent
    vocab = set()
    while len(vocab) < 30:
        vocab.add("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                          for _ in range(rng.randint(1, 8))))
    vocab = sorted(vocab)
    dup_tok = "zz" + "".join(rng.choice("0123456789") for _ in range(4))
    langs = ["de", "en", "es", "fr", "zh"]
    ids = rng.sample(range(10_000_000), n_docs)
    rows = []
    for i in range(n_docs):
        if i >= 20 and shape.random() < 0.05:
            src = rows[shape.randrange(i)]
            rows.append((ids[i], src[1] + " " + dup_tok, src[2], src[3]))
        else:
            n_tokens = shape.randint(10, 89)
            text = " ".join(rng.choice(vocab) for _ in range(n_tokens))
            rows.append((ids[i], text, shape.choice(langs), f"src{shape.randrange(20)}"))
    docs = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    g = np.random.default_rng(seed)
    vecs = g.standard_normal((n_vecs, dim))
    labels = np.random.default_rng(n_vecs).integers(0, 10, n_vecs)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    # vec_id 0 stays the ANN query vector the vector family expects
    vec_ids = [0] + rng.sample(range(1, 10_000_000), n_vecs - 1)
    emb = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.tolist(), pa.int32()),
    })
    truth = {"documents": n_docs, "embeddings": n_vecs}
    return {"documents": docs, "embeddings": emb}, truth


def write_tables(tables, directory):
    import pyarrow.parquet as pq
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
