"""Output checks against the generators' planted truth.

Each checker returns a list of human-readable failures; an empty list
means the outputs are correct."""

import glob
import os
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

DROP_TIERS = ("drop_exact", "drop_near", "drop_semantic")


def _parquet_files(root):
    return sorted(p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
                  if not os.path.basename(p).startswith((".", "_")))


def read_parquet(root, columns=None):
    files = _parquet_files(root)
    if not files:
        return None
    # read file by file: hive directories are not needed as columns here
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files])


# ------------------------------------------------------------------ cdc

def landed_cdc(sink):
    return read_parquet(os.path.join(sink, "data"))


def check_cdc(sink, truth):
    errs = []
    if not glob.glob(os.path.join(sink, "*.COMPLETED")):
        errs.append("no COMPLETED token under the sink root")
    if not glob.glob(os.path.join(sink, "schema", "schema-*.parquet")):
        errs.append("no schema file under schema/")
    t = landed_cdc(sink)
    if t is None:
        return errs + ["no data files landed"]
    rec = t.column("RECID").to_pylist()
    act = t.column("DML_Action").to_pylist()
    key = t.column("ARCANE_MERGE_KEY").to_pylist()
    got = Counter(zip(rec, act))
    if got != truth:
        missing = sum((truth - got).values())
        extra = sum((got - truth).values())
        errs.append("landed (RECID, DML_Action) multiset differs: %d missing, %d extra"
                    % (missing, extra))
    bad = sum(1 for r, k in zip(rec, key) if k != str(r))
    if bad:
        errs.append("%d rows carry an ARCANE_MERGE_KEY other than their RECID" % bad)
    return errs


def same_cdc(sink_a, sink_b):
    a, b = landed_cdc(sink_a), landed_cdc(sink_b)
    if a is None or b is None:
        return ["a run landed no data"]
    # Seq_Val is unique per change row, so it orders both tables totally
    a = a.sort_by("Seq_Val")
    b = b.select(a.column_names).sort_by("Seq_Val")
    return [] if a.equals(b) else ["traced sink rows differ from the untraced run's"]


# ------------------------------------------------------------- decisions

def read_tsv(path, types):
    rows = []
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line:
                rows.append(tuple(t(v) for t, v in zip(types, line.split("\t"))))
    return rows


def check_decisions(decisions, components, truth):
    """`decisions`: (doc_id, decision, keeper_id) rows; `components`:
    (id, component) rows; `truth`: doc_id -> (role, base_id)."""
    errs = []
    seen = Counter(d for d, _, _ in decisions)
    dup = [d for d, n in seen.items() if n > 1]
    if dup:
        errs.append("%d docs carry more than one verdict" % len(dup))
    missing = set(truth) - set(seen)
    if missing:
        errs.append("%d docs have no verdict" % len(missing))
    extra = set(seen) - set(truth)
    if extra:
        errs.append("%d verdicts for docs never sent" % len(extra))
    verdict = {d: (v, k) for d, v, k in decisions}
    bad = Counter()
    for doc, (role, base) in truth.items():
        if doc not in verdict:
            continue
        v, k = verdict[doc]
        if role in ("unique", "base"):
            ok = v == "keep" and k == doc
        elif role == "exact":
            ok = v == "drop_exact" and k == base
        else:  # near / semantic: detection is not guaranteed, false claims are
            ok = (v == "keep" and k == doc) or (
                v in DROP_TIERS and truth.get(k, (None, None))[1] == base)
        if not ok:
            bad[role] += 1
    for role, n in sorted(bad.items()):
        errs.append("%d planted %s docs got a wrong verdict" % (n, role))
    # cluster state: the components are exactly the connected groups of the
    # verdicts' (doc, keeper) drop edges, and none spans two planted groups
    # (a copy kept because it arrived in its base's batch can be the keeper
    # of a later copy, so a planted group may split into two components)
    parent = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for doc, (v, k) in verdict.items():
        if v in DROP_TIERS and doc != k:
            parent[root(doc)] = root(k)
    want = defaultdict(set)
    for x in parent:
        want[root(x)].add(x)
    comps = defaultdict(set)
    for i, c in components:
        comps[c].add(i)
    got = {frozenset(m) for m in comps.values()}
    want = {frozenset(m) for m in want.values()}
    if got != want:
        errs.append("cluster components differ from the verdicts' duplicate edges: "
                    "%d expected, %d found, %d in common" % (len(want), len(got), len(got & want)))
    mixed = [m for m in got if len({truth.get(i, (None, i))[1] for i in m}) > 1]
    if mixed:
        errs.append("%d cluster components span more than one planted group" % len(mixed))
    return errs


def same_files(dir_a, dir_b, names):
    errs = []
    for f in names:
        with open(os.path.join(dir_a, f)) as fa, open(os.path.join(dir_b, f)) as fb:
            if fa.read() != fb.read():
                errs.append("traced %s differs from the untraced run's" % f)
    return errs


def verdict_counts(decisions):
    return Counter(v for _, v, _ in decisions)


# ---------------------------------------------------------- corpus build

def check_corpus(out, truth, bench_max_id):
    errs = []
    ledger = read_parquet(os.path.join(out, "ledger"), ["doc_id", "verdict"])
    corpus = read_parquet(os.path.join(out, "corpus"), ["doc_id", "source"])
    manifest = read_parquet(os.path.join(out, "manifest"), ["source", "m_docs"])
    if ledger is None or corpus is None or manifest is None:
        return ["missing ledger/, corpus/ or manifest/ output"]
    ids = ledger.column("doc_id").to_pylist()
    want = {d for d, (role, _) in truth.items() if role != "benchmark"}
    n = Counter(ids)
    if any(c > 1 for c in n.values()) or set(n) != want:
        errs.append("ledger is not one row per corpus doc (%d rows, %d distinct, %d docs)"
                    % (len(ids), len(n), len(want)))
    kept = corpus.column("doc_id").to_pylist()
    leaked = [d for d in kept if d < bench_max_id]
    if leaked:
        errs.append("%d benchmark-slice docs reached corpus/" % len(leaked))
    per_src = Counter(corpus.column("source").to_pylist())
    man = dict(zip(manifest.column("source").to_pylist(), manifest.column("m_docs").to_pylist()))
    if man != dict(per_src):
        errs.append("manifest doc counts differ from corpus/ counts")
    verdict = dict(zip(ids, ledger.column("verdict").to_pylist()))
    # the batch decision labels a copy by the tier that claims it first;
    # an exact copy of a doc with near copies may be claimed as drop_near
    wrong = [d for d, (role, _) in truth.items()
             if role == "exact" and verdict.get(d) not in DROP_TIERS]
    if wrong:
        errs.append("%d planted exact copies were not dropped by a dedup tier" % len(wrong))
    if len(kept) != sum(1 for v in verdict.values() if v == "keep"):
        errs.append("corpus/ rows differ from the ledger's keep count")
    return errs


def same_corpus(out_a, out_b):
    errs = []
    for part in ("ledger", "manifest"):
        a, b = read_parquet(os.path.join(out_a, part)), read_parquet(os.path.join(out_b, part))
        if a is None or b is None:
            errs.append("%s/ missing" % part)
            continue
        key = "doc_id" if part == "ledger" else "source"
        a = a.sort_by(key)
        b = b.select(a.column_names).sort_by(key)
        if not a.equals(b):
            errs.append("traced %s/ differs from the untraced run's" % part)
    return errs
