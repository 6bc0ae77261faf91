"""Seeded input generator for the benchmark.

Writes the three parquet tables the measured operators read
(`documents`, `embeddings`, `lineitem`) plus `truth.json`, the planted
structure the output checks test against. The program only ever sees
the parquet files; the same (corpus, seed) always gives byte-identical
tables.

Two corpus shapes:

* ``audit``: few models, many responses per model. Models come in planted
  families: a teacher and a student drawn from one response profile
  (shared style markers, shared word-transition chain, so a shared
  bigram profile) and independent models whose profiles share no
  vocabulary with anyone. Embeddings hold ten labels; label 5 is an
  orthogonal rotation plus scale of label 0 and label 6 a copy of
  label 1, so their CKA with the source is exactly 1.
* ``loops``: a part/supplier `lineitem` edge table for the graph loops,
  and a high-entropy document corpus with planted groups of
  near-duplicate responses for the duplicate-cluster loop.

Run directly to (re)generate a corpus: ``python3 perfbench/gen.py
audit 7 .bench_data/audit-7``.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 3

# Style markers of the families the audit corpus plants (a subset of
# each family's signature that is not a substring of another family's
# marker, so only the planted family saturates its marker score).
FAMILY_MARKERS = {
    "gpt-4": ["comprehensive breakdown", "it's important to note", "keep in mind",
              "in more detail", "let me walk you through", "active area of research"],
    "claude": ["i'd be happy to help", "let me think through this", "i should note",
               "nuanced", "i want to be careful", "ethical implications"],
    "llama": ["sure thing!", "pretty cool", "check out this", "here you go",
              "so basically", "think of it like"],
    "mistral": ["to answer your question", "in short", "the answer is"],
}

# Every marker/phrase any audit operator counts; generated words must not
# contain any word of these, or a random word would count as a marker.
_COUNTED = """sorry apologize unfortunately cannot can't unable certainly sure
absolutely course happy glad however although perhaps might could may first second
third finally additionally moreover language model trained maybe possibly definitely
clearly straightforward nuanced note worth key great question simply conclusion
elaborate found help apolog""".split()

_CONS = "bcdfghjklmnprstvwz"
_VOW = "aeiou"


def _words(rng, n, syllables):
    """n distinct pronounceable lowercase words with no counted substring."""
    out, seen = [], set()
    while len(out) < n:
        k = rng.integers(syllables[0], syllables[1] + 1)
        w = "".join(_CONS[rng.integers(len(_CONS))] + _VOW[rng.integers(len(_VOW))]
                    for _ in range(k))
        if w in seen or any(c in w for c in _COUNTED if len(c) >= 3):
            continue
        seen.add(w)
        out.append(w)
    return out


class Profile:
    """A response style: vocabulary, word-transition chain, structure."""

    def __init__(self, rng, vocab, family, length, md, bullets, code, hedges):
        self.vocab = vocab
        self.family = family
        n = len(vocab)
        # each word has four fixed successors with skewed weights: a
        # concentrated bigram distribution whose top-100 is stable
        self.succ = np.stack([rng.permutation(n)[:4] for _ in range(n)])
        self.w = np.array([0.55, 0.25, 0.12, 0.08])
        self.length, self.md, self.bullets, self.code, self.hedges = \
            length, md, bullets, code, hedges

    def text(self, rng, scale):
        n = max(12, int(rng.normal(self.length * scale, self.length * 0.15)))
        idx = np.empty(n, dtype=np.int64)
        idx[0] = rng.integers(len(self.vocab))
        picks = rng.choice(4, size=n, p=self.w)
        for i in range(1, n):
            idx[i] = self.succ[idx[i - 1], picks[i]]
        words = [self.vocab[i] for i in idx]
        markers = FAMILY_MARKERS[self.family]
        for m in rng.choice(len(markers), size=3, replace=False):
            words.insert(int(rng.integers(len(words) + 1)), markers[m])
        for h in self.hedges:
            if rng.random() < 0.5:
                words.insert(int(rng.integers(len(words) + 1)), h)
        sents, i = [], 0
        while i < len(words):
            k = int(rng.integers(8, 16))
            sents.append(" ".join(words[i:i + k]) + ".")
            i += k
        lines = []
        if rng.random() < self.md:
            lines.append("# " + " ".join(words[:3]))
        lines.append(" ".join(sents[: max(1, len(sents) // 2)]))
        if rng.random() < self.bullets:
            lines += ["- " + s for s in sents[len(sents) // 2:][:3]]
        rest = sents[len(sents) // 2:][3:] if rng.random() < self.bullets else sents[len(sents) // 2:]
        if rest:
            lines.append(" ".join(rest))
        if rng.random() < self.code:
            lines.append("```\n" + " = ".join(words[:2]) + "\n```")
        return "\n".join(lines)


def _documents_table(ids, texts, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _audit_documents(rng, docs_per_model):
    specs = [  # (source, family, profile key, length scale)
        ("gpt-4-teacher", "gpt-4", "gpt", 1.0),
        ("gpt-4-student", "gpt-4", "gpt", 0.93),
        ("claude-teacher", "claude", "claude", 1.0),
        ("claude-student", "claude", "claude", 1.06),
        ("llama-indep", "llama", "llama", 1.0),
        ("mistral-indep", "mistral", "mistral", 1.0),
    ]
    profiles = {
        "gpt": Profile(rng, _words(rng, 160, (2, 3)), "gpt-4", 150, 0.7, 0.6, 0.3, ["however"]),
        "claude": Profile(rng, _words(rng, 160, (2, 4)), "claude", 180, 0.4, 0.3, 0.2, ["perhaps"]),
        "llama": Profile(rng, _words(rng, 160, (1, 2)), "llama", 70, 0.0, 0.1, 0.5, []),
        "mistral": Profile(rng, _words(rng, 160, (3, 4)), "mistral", 40, 0.0, 0.0, 0.0, ["first"]),
    }
    ids, texts, sources = [], [], []
    # interleave models so every source spreads over the doc_id range
    for k in range(docs_per_model):
        for src, _, prof, scale in specs:
            ids.append(len(ids))
            texts.append(profiles[prof].text(rng, scale))
            sources.append(src)
    truth = {
        "models": [s[0] for s in specs],
        "family": {s[0]: s[1] for s in specs},
        "derived_pairs": [["claude-student", "claude-teacher"], ["gpt-4-student", "gpt-4-teacher"]],
    }
    return _documents_table(ids, texts, sources), truth


def _loops_documents(rng, n_docs, n_groups):
    vocab = _words(rng, 6000, (2, 4))
    ids, texts, sources, groups = [], [], [], []
    models = ["gpt-4-a", "claude-b", "llama-c", "mistral-d"]
    for i in range(n_docs):
        ids.append(i)
        texts.append(" ".join(vocab[j] for j in rng.integers(len(vocab), size=int(rng.integers(60, 140)))))
        sources.append(models[i % len(models)])
    # duplicate groups of a long base response, appended with fresh doc
    # ids: one exact copy (identical shingles, so it collides with the
    # base in every LSH band) and one or two near copies with the last
    # word replaced (Jaccard ≥ 0.98 on word 3-gram shingles, which MinHash
    # LSH finds with high probability, not always). truth.json lists the
    # groups as [base, exact copy, near copies...].
    long_docs = [i for i in range(n_docs) if len(texts[i].split(" ")) >= 100]
    bases = rng.choice(long_docs, size=n_groups, replace=False)
    for b in bases:
        group = [int(b)]
        words = texts[b].split(" ")
        for k in range(int(rng.integers(2, 4))):
            w = list(words)
            if k > 0:
                w[-1] = vocab[int(rng.integers(len(vocab)))]
            group.append(len(ids))
            ids.append(len(ids))
            texts.append(" ".join(w))
            sources.append(sources[b])
        groups.append(group)
    return _documents_table(ids, texts, sources), {"dup_groups": groups}


def _embeddings(rng, per_label, dim):
    """Labels 0..9; 5 = rotation·scale of 0, 6 = copy of 1."""
    base = {}
    for lab in (0, 1, 2, 3, 4, 7, 8, 9):
        # a few strong directions per label so CKA between labels is low but nonzero
        z = rng.normal(size=(per_label, 4)) @ rng.normal(size=(4, dim))
        base[lab] = z + 0.3 * rng.normal(size=(per_label, dim))
    q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    base[5] = (base[0] @ q) * 2.5
    base[6] = base[1].copy()
    vec_ids, embs, labels = [], [], []
    for lab in range(10):
        for k in range(per_label):
            vec_ids.append(lab * 100000 + k)  # same rank order in every label
            embs.append(base[lab][k].astype(np.float32))
            labels.append(lab)
    table = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array([e.tolist() for e in embs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return table, {"cka_one_pairs": [[0, 5], [1, 6]]}


def _lineitem(rng, n_orders, n_parts, n_supps):
    """TPC-H-shaped lineitem; every part and every supplier has a line."""
    order_keys, part_keys, supp_keys, qty = [], [], [], []
    for o in range(1, n_orders + 1):
        for _ in range(int(rng.integers(1, 8))):
            order_keys.append(o)
            # a skewed part choice gives the graph hubs
            part_keys.append(int(min(n_parts, 1 + rng.zipf(1.3) % n_parts)) if rng.random() < 0.3
                             else int(rng.integers(1, n_parts + 1)))
            supp_keys.append(int(rng.integers(1, n_supps + 1)))
            qty.append(float(rng.integers(1, 51)))
    # cover every part/supplier id at least once
    for p in range(1, n_parts + 1):
        order_keys.append(int(rng.integers(1, n_orders + 1)))
        part_keys.append(p)
        supp_keys.append(1 + (p % n_supps))
        qty.append(float(rng.integers(1, 51)))
    n = len(order_keys)
    price = rng.uniform(900, 100000, size=n).round(2)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 2500, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(order_keys, pa.int64()),
        "l_partkey": pa.array(part_keys, pa.int64()),
        "l_suppkey": pa.array(supp_keys, pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 7 + 1, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


SHAPES = {
    # corpus: (docs per model | docs, dup groups, embeddings per label, orders, parts, suppliers)
    "audit": dict(docs_per_model=400, per_label=160, dim=32, orders=500, parts=300, supps=40),
    "loops": dict(docs=3000, groups=150, per_label=130, dim=16, orders=6000, parts=3000, supps=300),
}


def generate(corpus, seed, out_dir):
    """Write the corpus for `seed` to out_dir unless it is already there."""
    stamp = os.path.join(out_dir, "truth.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("version") == VERSION:
                return
    shape = SHAPES[corpus]
    # distinct streams per corpus, so the two corpora of one seed differ
    rng = np.random.default_rng([seed, 0 if corpus == "audit" else 1])
    if corpus == "audit":
        docs, truth = _audit_documents(rng, shape["docs_per_model"])
    else:
        docs, truth = _loops_documents(rng, shape["docs"], shape["groups"])
    emb, etruth = _embeddings(rng, shape["per_label"], shape["dim"])
    truth.update(etruth)
    li = _lineitem(rng, shape["orders"], shape["parts"], shape["supps"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("documents", docs), ("embeddings", emb), ("lineitem", li)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    truth.update(version=VERSION, corpus=corpus, seed=seed)
    with open(stamp, "w") as f:
        json.dump(truth, f)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
