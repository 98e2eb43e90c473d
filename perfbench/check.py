"""Output checkers, independent of the program under test.

Stream workloads: every expected line is computed from the generated
document (gen.expected_line); output lines are compared as parsed JSON, and
the lines of each shard must arrive in the shard's sequence order.

Corpus workload: the expected pairs are the within-family pairs whose
word-3-gram Jaccard, computed here, is at least tau; a pair that crosses
families is never expected. Clusters must be the connected components of
the expected pairs, each labelled by its smallest document id.

Each checker returns (attempted, failed, details): attempted counts the
expected outputs, failed counts the ones missing, wrong, duplicated, extra
or out of per-shard order.
"""
import json


def check_stream(expected, lines):
    """`expected`: {id: (shard, seq, line)}; `lines`: output lines (bytes or
    str) in arrival order."""
    seen = set()
    last_seq = {}
    d = {"missing": 0, "wrong": 0, "duplicate": 0, "extra": 0, "out_of_order": 0}
    for raw in lines:
        try:
            obj = json.loads(raw)
            rec_id = obj.get("id") if isinstance(obj, dict) else None
        except ValueError:
            obj, rec_id = None, None
        exp = expected.get(rec_id) if isinstance(rec_id, int) else None
        if exp is None:
            d["extra"] += 1
            continue
        if rec_id in seen:
            d["duplicate"] += 1
            continue
        seen.add(rec_id)
        shard, seq, want = exp
        if obj != want:
            d["wrong"] += 1
        if seq < last_seq.get(shard, -1):
            d["out_of_order"] += 1
        last_seq[shard] = max(seq, last_seq.get(shard, -1))
    d["missing"] = len(expected) - len(seen)
    return len(expected), sum(d.values()), d


def shingles(text, k=3):
    """Distinct word-k-grams of a single-space separated text; a text of
    fewer than k words is one shingle."""
    toks = text.split(" ")
    if len(toks) < k:
        return {text}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def expected_pairs(rows, family_of, tau=0.5, k=3):
    """{(id_a, id_b): jaccard} over within-family pairs with Jaccard >= tau,
    id_a < id_b."""
    sh = {doc_id: shingles(text, k) for doc_id, text in rows}
    members = {}
    for doc_id, fam in family_of.items():
        members.setdefault(fam, []).append(doc_id)
    out = {}
    for ids in members.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                j = jaccard(sh[a], sh[b])
                if j >= tau:
                    out[(a, b)] = j
    return out


def expected_clusters(pairs):
    """{doc_id: cluster_id}: connected components of `pairs`, each labelled
    by its smallest member."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_corpus(exp_pairs, exp_clusters, got_pairs, got_clusters):
    """`got_pairs`: [[id_a, id_b, jaccard]]; `got_clusters`: [[doc_id, cluster_id]]."""
    d = {"missing": 0, "wrong": 0, "duplicate": 0, "extra": 0}
    seen = set()
    for a, b, j in got_pairs:
        key = (min(a, b), max(a, b))
        if key in seen:
            d["duplicate"] += 1
        elif key not in exp_pairs:
            d["extra"] += 1
        else:
            seen.add(key)
            if abs(j - exp_pairs[key]) > 1e-9:
                d["wrong"] += 1
    d["missing"] += len(exp_pairs) - len(seen)
    seen_docs = set()
    for doc, cl in got_clusters:
        if doc in seen_docs:
            d["duplicate"] += 1
        elif doc not in exp_clusters:
            d["extra"] += 1
        else:
            seen_docs.add(doc)
            if cl != exp_clusters[doc]:
                d["wrong"] += 1
    d["missing"] += len(exp_clusters) - len(seen_docs)
    return len(exp_pairs) + len(exp_clusters), sum(d.values()), d
