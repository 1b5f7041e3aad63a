"""Seeded input generators with planted truth.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical inputs and returns the same truth. The program
under test only ever sees the files written here.
"""

import json
import math
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- CDM feed

CDM_ENTITY = "BenchEntity"

# (name, CDM dataFormat) in positional CSV order: the FIXTURES §1 change-feed
# entity shape (five CDC columns, two feed timestamps, payload with Decimal
# and DateTime), 13 columns before the appended merge key
CDM_ATTRS = [
    ("LastProcessedChange_DateTime", "DateTime"),
    ("DataLakeModified_DateTime", "DateTime"),
    ("Start_LSN", "String"),
    ("End_LSN", "String"),
    ("DML_Action", "String"),
    ("Seq_Val", "String"),
    ("Update_Mask", "String"),
    ("RECID", "Int64"),
    ("PARTITION", "Int64"),
    ("RECVERSION", "Int32"),
    ("MODIFIEDDATETIME", "DateTime"),
    ("AMOUNT", "Decimal"),
    ("ITEMNAME", "String"),
]

# INSERT / AFTER_UPDATE / DELETE mix of the change rows
DML_MIX = (("INSERT", 0.6), ("AFTER_UPDATE", 0.3), ("DELETE", 0.1))


def cdm_schema_json():
    return json.dumps({
        "jsonSchemaSemanticVersion": "1.4.0",
        "definitions": [{
            "entityName": CDM_ENTITY,
            "hasAttributes": [{"name": n, "dataFormat": f} for n, f in CDM_ATTRS],
        }],
    }, indent=1)


def _ts(sec, frac7):
    # the feed's timestamp shape: yyyy-MM-ddTHH:mm:ss.fffffff
    days, rem = divmod(sec, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    d = 1 + days % 28
    return "2026-09-%02dT%02d:%02d:%02d.%07d" % (d, h, m, s, frac7)


def gen_cdm(root, seed, files, rows_per_file, base_mtime=1_700_000_000):
    """Write `<root>/ChangeFeed/<entity>.cdm.json` plus `files` change CSVs
    of `rows_per_file` rows each. Returns the truth: a Counter over
    (RECID, DML_Action) and the input byte count."""
    rng = random.Random(seed)
    feed = os.path.join(root, "ChangeFeed")
    data = os.path.join(feed, CDM_ENTITY)
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(feed, CDM_ENTITY + ".cdm.json"), "w") as f:
        f.write(cdm_schema_json())
    truth = Counter()
    live = []          # RECIDs inserted and not deleted
    next_id = 1_000_000 + rng.randrange(1000)
    nbytes = 0
    seq = 0
    names = ["widget", "gadget", "sprocket", "bolt", "nut", "gear", "cog"]
    for fi in range(files):
        lines = []
        for _ in range(rows_per_file):
            r = rng.random()
            if r < DML_MIX[0][1] or len(live) < 16:
                action = "INSERT"
                recid = next_id
                next_id += 1 + rng.randrange(3)
                live.append(recid)
            else:
                i = rng.randrange(len(live))
                recid = live[i]
                if r < DML_MIX[0][1] + DML_MIX[1][1]:
                    action = "AFTER_UPDATE"
                else:
                    action = "DELETE"
                    live[i] = live[-1]
                    live.pop()
            seq += 1
            sec = seq // 7
            amount = "%d.%06d" % (rng.randrange(100000), rng.randrange(1000000))
            name = names[recid % len(names)]
            if rng.random() < 0.05:
                name = '%s, "special"' % name   # quoted comma and escaped quotes
            lines.append('"%s","%sZ","0X%020X",,"%s","0X%020X","0X%018X",%d,%d,%d,"%s",%s,"%s"\n' % (
                _ts(sec, rng.randrange(10_000_000)), _ts(sec + 7, rng.randrange(10_000_000)),
                seq, action, seq * 3, rng.getrandbits(64), recid, recid % 4,
                rng.randrange(1, 1 << 20), _ts(sec - 3, 0), amount,
                name.replace('"', '""')))
            truth[(recid, action)] += 1
        path = os.path.join(data, "%06d.csv" % fi)
        body = "".join(lines).encode("utf-8")
        with open(path, "wb") as f:
            f.write(body)
        nbytes += len(body)
        # deterministic arrival order: the file source orders by mtime
        os.utime(path, (base_mtime + fi, base_mtime + fi))
    return truth, nbytes


# ---------------------------------------------------------------- documents

def _vocab(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(4, 9))))
    return sorted(words)


def _text(rng, vocab, n_tokens):
    return " ".join(rng.choice(vocab) for _ in range(n_tokens))


def _perturb(rng, vocab, text, share):
    toks = text.split(" ")
    for _ in range(max(1, int(len(toks) * share))):
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
    return " ".join(toks)


def _unit(rng, dim):
    v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _near_vec(rng, v, noise):
    w = [x + rng.gauss(0.0, noise) for x in v]
    n = math.sqrt(sum(x * x for x in w))
    return [x / n for x in w]


# Unrelated vectors are independent unit Gaussians in EMB_DIM dimensions:
# their cosine has standard deviation 1/sqrt(EMB_DIM) = 0.0625, so the
# semantic tier's 0.30 threshold sits 4.8 deviations out and no planted
# unique is ever claimed (64-d vectors put it at 2.4 and claim ~45%).
EMB_DIM = 256


def plant_docs(rng, n_docs, n_groups, copies, first_id, dim=EMB_DIM, tokens=(60, 120)):
    """Arrival-ordered documents with planted duplicate groups.

    `copies` maps a role ("exact", "near", "semantic") to the number of
    copies of that role each group gets. A group's base arrives before all
    of its copies; every other doc is a unique. Returns (docs, truth):
    docs = list of (doc_id, text, embedding) in arrival order; truth maps
    doc_id -> (role, base_id) with role in unique/base/exact/near/semantic."""
    vocab = _vocab(rng, 4000)
    per_group = sum(copies.values())
    n_copies = n_groups * per_group
    assert n_groups + n_copies <= n_docs
    # slots: bases in the first half of the stream, copies after their base
    slots = [None] * n_docs
    half = max(1, n_docs // 2)
    bases = sorted(rng.sample(range(half), n_groups))
    taken = set(bases)
    for g, b in enumerate(bases):
        slots[b] = ("base", g)
        for role, k in copies.items():
            for _ in range(k):
                while True:
                    p = rng.randrange(b + 1, n_docs)
                    if p not in taken:
                        break
                taken.add(p)
                slots[p] = (role, g)
    base_of = {}
    docs = []
    truth = {}
    group_text = {}
    group_vec = {}
    for pos in range(n_docs):
        doc_id = first_id + pos
        slot = slots[pos]
        n_tok = rng.randrange(*tokens)
        if slot is None:
            text, vec, role, base = _text(rng, vocab, n_tok), _unit(rng, dim), "unique", doc_id
        else:
            role, g = slot
            if role == "base":
                text, vec = _text(rng, vocab, n_tok), _unit(rng, dim)
                group_text[g], group_vec[g] = text, vec
                base_of[g] = doc_id
            elif role == "exact":
                text, vec = group_text[g], list(group_vec[g])
            elif role == "near":
                text = _perturb(rng, vocab, group_text[g], 0.02)
                vec = _near_vec(rng, group_vec[g], 0.01)
            else:  # semantic: unrelated text, embedding of the base
                text = _text(rng, vocab, n_tok)
                vec = _near_vec(rng, group_vec[g], 0.01)
            base = base_of[g]
        docs.append((doc_id, text, vec))
        truth[doc_id] = (role, base)
    return docs, truth


def _emb_array(vecs):
    return pa.array(vecs, type=pa.list_(pa.float32()))


def gen_decision(root, seed, files, docs_per_file, coarse_k, groups_per_1k=60):
    """Document stream for the dedup-decision pod: `files` parquet files of
    `docs_per_file` docs (doc_id, text, embedding) in arrival order, plus
    the pod's `quantizer/` index with `coarse_k` cells. Returns
    (truth, input_bytes)."""
    rng = random.Random(seed)
    n = files * docs_per_file
    docs, truth = [], {}
    if n:
        docs, truth = plant_docs(rng, n, max(1, n * groups_per_1k // 1000),
                                 {"exact": 1, "near": 1, "semantic": 1}, first_id=1)
    src = os.path.join(root, "docs")
    os.makedirs(src, exist_ok=True)
    nbytes = 0
    for fi in range(files):
        chunk = docs[fi * docs_per_file:(fi + 1) * docs_per_file]
        t = pa.table({
            "doc_id": pa.array([d[0] for d in chunk], pa.int64()),
            "text": pa.array([d[1] for d in chunk], pa.string()),
            "embedding": _emb_array([d[2] for d in chunk]),
        })
        path = os.path.join(src, "part-%06d.parquet" % fi)
        pq.write_table(t, path)
        nbytes += os.path.getsize(path)
        os.utime(path, (1_700_000_000 + fi, 1_700_000_000 + fi))
    # the pod's persisted quantizer, trained offline: coarse centroids in
    # the index layout's `coarse/` table (cid, emb); centroids drawn from
    # the embedding distribution spread docs evenly over the cells
    coarse = os.path.join(root, "quantizer", "coarse")
    os.makedirs(coarse, exist_ok=True)
    pq.write_table(pa.table({
        "cid": pa.array(range(coarse_k), pa.int64()),
        "emb": pa.array([_unit(rng, EMB_DIM) for _ in range(coarse_k)], pa.list_(pa.float64())),
    }), os.path.join(coarse, "part-000000.parquet"))
    return truth, nbytes


# ids below this are the corpus build's benchmark (decontamination) slice:
# the build's default CORPUS_BUILD_BENCHMARK_MAX_ID
BENCH_MAX_ID = 20


def gen_corpus(root, seed, n_docs, n_sources=20, bench_max_id=BENCH_MAX_ID, junk_share=0.08,
               contaminated=10, groups_per_1k=40):
    """Corpus + embeddings for the batch build. Ids below `bench_max_id` are
    the benchmark (decontamination) slice; `contaminated` corpus docs embed a
    benchmark doc's text; a `junk_share` of docs is repetitive junk; planted
    exact/near/semantic groups and uniques fill the rest, spread over
    `n_sources` sources named src<N>. Returns (truth, input_bytes)."""
    rng = random.Random(seed)
    n_corpus = n_docs - bench_max_id
    n_groups = max(1, n_corpus * groups_per_1k // 1000)
    docs, truth = plant_docs(rng, n_corpus, n_groups,
                             {"exact": 1, "near": 1, "semantic": 1}, first_id=bench_max_id)
    vocab = _vocab(rng, 4000)
    bench = [(i, _text(rng, vocab, 80), _unit(rng, EMB_DIM)) for i in range(bench_max_id)]
    for i in range(bench_max_id):
        truth[i] = ("benchmark", i)
    uniques = [i for i, d in enumerate(docs) if truth[d[0]][0] == "unique"]
    rng.shuffle(uniques)
    n_junk = int(n_corpus * junk_share)
    for i in uniques[:n_junk]:
        doc_id, _, vec = docs[i]
        w = rng.choice(vocab)
        docs[i] = (doc_id, " ".join([w] * rng.randrange(40, 80)), vec)
        truth[doc_id] = ("junk", doc_id)
    for i in uniques[n_junk:n_junk + contaminated]:
        doc_id, text, vec = docs[i]
        docs[i] = (doc_id, text + " " + rng.choice(bench)[1], vec)
        truth[doc_id] = ("contaminated", doc_id)
    allv = bench + docs
    src = [("src%d" % rng.randrange(n_sources)) for _ in allv]
    d = os.path.join(root, "documents")
    e = os.path.join(root, "embeddings")
    os.makedirs(d, exist_ok=True)
    os.makedirs(e, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([x[0] for x in allv], pa.int64()),
        "text": pa.array([x[1] for x in allv], pa.string()),
        "source": pa.array(src, pa.string()),
    }), os.path.join(d, "part-000000.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array([x[0] for x in allv], pa.int64()),
        "embedding": _emb_array([x[2] for x in allv]),
    }), os.path.join(e, "part-000000.parquet"))
    nbytes = sum(os.path.getsize(os.path.join(p, f)) for p in (d, e) for f in os.listdir(p))
    return truth, nbytes
