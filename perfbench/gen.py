"""Seeded input generator for the perfbench workloads.

The same (workload, seed) always produces byte-identical files; the
SHA-256 digest over every generated file is written into
`manifest.json` and re-checked before cached inputs are reused.

Layout under the output directory:

  batch_vectorize/  documents.parquet, vec/<lang>.vec, truth.json
  stream_ingest/    idf/documents.parquet, vec/<lang>.vec,
                    arrivals/batch-<k>.parquet, truth.json
  release_pipeline/ documents.parquet, embeddings.parquet,
                    vec/<lang>.vec, truth.json

Text is lowercase words from each language's own alphabet joined by
single spaces, so a post's tokens are exactly `text.split(" ")` under
every tokenizer rule the program applies to that language. That lets
the output checks recompute results without the program's tokenizer.

Usage: python3 perfbench/gen.py --workload batch_vectorize --seed 1 --out DIR
"""

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

# letters each language's words are drawn from; every one of them is a
# token character of that language's rule (Tokenize.langLetters)
ALPHABETS = {
    "en": "abcdefghijklmnopqrstuvwxyz",
    "es": "abcdefghijklmnopqrstuvwxyzáéíóúñ",
    "de": "abcdefghijklmnopqrstuvwxyzäöüß",
    "fr": "abcdefghijklmnopqrstuvwxyzàâçéèêëîôû",
    "ru": "абвгдежзийклмнопрстуфхцчшщъыьэюяё",
}

# Input sizes per workload. `langs` weights are the share of posts.
SIZES = {
    "batch_vectorize": dict(
        posts=300, langs={"en": 1, "es": 1, "de": 1, "fr": 1, "ru": 1},
        vocab=500, dim=300, oov=0.05, min_len=20, max_len=60),
    "stream_ingest": dict(
        # the idf corpus the served dimension is built from, then the
        # arrivals: `batches` files of `batch_posts` posts each
        posts=300, langs={"en": 4, "es": 1, "de": 1, "fr": 1},
        vocab=500, dim=300, oov=0.05, min_len=40, max_len=90,
        batches=6, batch_posts=200, near_dup=0.05, repost=0.05),
    "release_pipeline": dict(
        posts=1000, langs={"en": 8, "es": 1, "de": 1},
        vocab=4000, dim=300, oov=0.05, min_len=60, max_len=120,
        emb_dim=64, dup_clusters=40, sem_clusters=40, contaminated=20),
}


def zipf_probs(n, s=1.05, q=2.7):
    """Zipf-Mandelbrot rank probabilities p(r) ~ 1 / (r + q)^s."""
    w = 1.0 / np.power(np.arange(1, n + 1) + q, s)
    return w / w.sum()


def make_vocab(rng, lang, n):
    """n distinct words of 2..11 letters from the language's alphabet."""
    alpha = np.array(list(ALPHABETS[lang]))
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 12))
        w = "".join(alpha[rng.integers(0, len(alpha), size=k)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_posts(rng, words, probs, n, min_len, max_len):
    """n posts as lists of word indices (Zipf draws)."""
    lens = rng.integers(min_len, max_len + 1, size=n)
    flat = rng.choice(len(words), size=int(lens.sum()), p=probs)
    out, i = [], 0
    for k in lens:
        out.append(flat[i:i + k])
        i += k
    return out


# fastText .vec values: 4 decimals, quantized so formatting is a lookup
_VALS = np.arange(-3000, 3001)
_STRS = np.array(["%.4f" % (v / 10000.0) for v in _VALS], dtype=object)


def write_vec(path, rng, words, dim):
    """A fastText text file: "nwords dim" header, then "word v1 .. vdim"."""
    q = np.clip(np.rint(rng.standard_normal((len(words), dim)) * 1000.0),
                -3000, 3000).astype(np.int64) + 3000
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("%d %d\n" % (len(words), dim))
        for w, row in zip(words, q):
            f.write(w + " " + " ".join(_STRS[row].tolist()) + "\n")


def write_docs(path, ids, texts, langs, sources):
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path, compression="snappy")


class Corpus:
    """Per-language vocabularies, .vec files and a post sampler."""

    def __init__(self, rng, size):
        self.rng = rng
        self.size = size
        self.langs = list(size["langs"])
        w = np.array([size["langs"][l] for l in self.langs], dtype=float)
        self.lang_p = w / w.sum()
        self.vocab = {l: make_vocab(rng, l, size["vocab"]) for l in self.langs}
        self.probs = zipf_probs(size["vocab"])
        # OOV: a seeded share of each vocabulary is absent from its .vec
        self.oov = {}
        for l in self.langs:
            k = int(round(size["oov"] * size["vocab"]))
            self.oov[l] = set(rng.choice(size["vocab"], size=k, replace=False).tolist())

    def posts(self, n):
        """n (lang, text) posts, languages drawn by share."""
        lang_idx = self.rng.choice(len(self.langs), size=n, p=self.lang_p)
        out = [None] * n
        for li, l in enumerate(self.langs):
            sel = np.nonzero(lang_idx == li)[0]
            ps = make_posts(self.rng, self.vocab[l], self.probs, len(sel),
                            self.size["min_len"], self.size["max_len"])
            words = self.vocab[l]
            for j, p in zip(sel, ps):
                out[j] = (l, " ".join(words[i] for i in p))
        return out

    def write_vecs(self, vec_dir):
        os.makedirs(vec_dir, exist_ok=True)
        for l in self.langs:
            kept = [w for i, w in enumerate(self.vocab[l]) if i not in self.oov[l]]
            write_vec(os.path.join(vec_dir, l + ".vec"), self.rng, kept,
                      self.size["dim"])

    def oov_words(self):
        return sum(len(v) for v in self.oov.values())


def mutate(rng, text, k):
    """Replace k distinct word positions with other words of the text."""
    words = text.split(" ")
    pos = rng.choice(len(words), size=min(k, len(words)), replace=False)
    for p in pos:
        words[p] = words[int(rng.integers(0, len(words)))]
    return " ".join(words)


def gen_batch_vectorize(rng, size, out):
    c = Corpus(rng, size)
    posts = c.posts(size["posts"])
    ids = list(range(len(posts)))
    write_docs(os.path.join(out, "documents.parquet"), ids,
               [t for _, t in posts], [l for l, _ in posts],
               ["src%d" % (i % 7) for i in ids])
    c.write_vecs(os.path.join(out, "vec"))
    return dict(posts=len(posts), langs=c.langs, dim=size["dim"],
                oov_words=c.oov_words()), posts, c


def gen_stream_ingest(rng, size, out):
    c = Corpus(rng, size)
    idf_posts = c.posts(size["posts"])
    os.makedirs(os.path.join(out, "idf"), exist_ok=True)
    n0 = len(idf_posts)
    write_docs(os.path.join(out, "idf", "documents.parquet"), list(range(n0)),
               [t for _, t in idf_posts], [l for l, _ in idf_posts],
               ["src%d" % (i % 7) for i in range(n0)])
    c.write_vecs(os.path.join(out, "vec"))
    # arrivals: fresh posts, then a planted share that re-posts or
    # near-duplicates an earlier ORIGINAL arrival (never another plant),
    # from an earlier file or earlier in the same file
    os.makedirs(os.path.join(out, "arrivals"), exist_ok=True)
    next_id = 1000000
    originals = []  # (doc_id, lang, text) of non-planted arrivals
    reposts, near = [], []
    all_posts = []
    for b in range(size["batches"]):
        n = size["batch_posts"]
        n_rep = int(round(size["repost"] * n))
        n_near = int(round(size["near_dup"] * n))
        fresh = c.posts(n - n_rep - n_near)
        rows = []
        for l, t in fresh:
            rows.append((next_id, l, t))
            next_id += 1
        originals.extend(rows)
        for kind, k in (("repost", n_rep), ("near", n_near)):
            for _ in range(k):
                src = originals[int(rng.integers(0, len(originals)))]
                text = src[2] if kind == "repost" else mutate(rng, src[2], 1)
                rows.append((next_id, src[1], text))
                (reposts if kind == "repost" else near).append([next_id, src[0]])
                next_id += 1
        # arrival order inside a file is by doc_id (the stream's
        # canonical order: the later id of a pair is the one dropped)
        write_docs(os.path.join(out, "arrivals", "batch-%03d.parquet" % b),
                   [r[0] for r in rows], [r[2] for r in rows],
                   [r[1] for r in rows], ["feed%d" % (r[0] % 5) for r in rows])
        all_posts.extend((r[1], r[2]) for r in rows)
    props = dict(posts=n0, arrivals=len(all_posts), batches=size["batches"],
                 batch_posts=size["batch_posts"], langs=c.langs, dim=size["dim"],
                 oov_words=c.oov_words(), reposts=len(reposts),
                 near_dups=len(near))
    truth = dict(reposts=reposts, near_dups=near)
    return props, idf_posts + all_posts, c, truth


def gen_release_pipeline(rng, size, out):
    c = Corpus(rng, size)
    posts = c.posts(size["posts"])
    n = len(posts)
    texts = [t for _, t in posts]
    langs = [l for l, _ in posts]
    en = [i for i in range(n) if langs[i] == "en" and i % 100 != 0]
    # planted near-dup clusters: 2-3 members copying one en post with a
    # word changed (placed at higher ids than the canonical)
    order = rng.permutation(len(en))
    pick = [en[i] for i in order]
    k = 0
    dup_clusters = []
    for _ in range(size["dup_clusters"]):
        m = int(rng.integers(2, 4))
        members = sorted(pick[k:k + m]); k += m
        for d in members[1:]:
            texts[d] = mutate(rng, texts[members[0]], 1)
        dup_clusters.append(members)
    # planted contamination: train posts copying an eval post
    # (doc_id % 100 == 0) with one word changed
    eval_ids = [i for i in range(n) if i % 100 == 0 and langs[i] == "en"]
    contaminated = []
    for _ in range(size["contaminated"]):
        d = pick[k]; k += 1
        e = eval_ids[int(rng.integers(0, len(eval_ids)))]
        texts[d] = mutate(rng, texts[e], 1)
        contaminated.append([d, e])
    # embeddings: one 64-dim vector per doc; semantic clusters share a
    # base direction (cos >= 0.99) while their texts stay unrelated
    emb = rng.standard_normal((n, size["emb_dim"])).astype(np.float32)
    sem_clusters = []
    for _ in range(size["sem_clusters"]):
        members = [pick[k], pick[k + 1]]; k += 2
        base = emb[members[0]]
        for m in members[1:]:
            emb[m] = base + 0.02 * rng.standard_normal(size["emb_dim"]).astype(np.float32)
        sem_clusters.append(members)
    ids = list(range(n))
    write_docs(os.path.join(out, "documents.parquet"), ids, texts, langs,
               ["src%d" % (i % 7) for i in ids])
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in ids], pa.int32()),
    }), os.path.join(out, "embeddings.parquet"), compression="snappy")
    c.write_vecs(os.path.join(out, "vec"))
    props = dict(posts=n, langs=c.langs, dim=size["dim"], emb_dim=size["emb_dim"],
                 oov_words=c.oov_words(), dup_clusters=len(dup_clusters),
                 sem_clusters=len(sem_clusters), contaminated=len(contaminated))
    truth = dict(dup_clusters=dup_clusters, sem_clusters=sem_clusters,
                 contaminated=contaminated)
    return props, list(zip(langs, texts)), c, truth


GENERATORS = {
    "batch_vectorize": gen_batch_vectorize,
    "stream_ingest": gen_stream_ingest,
    "release_pipeline": gen_release_pipeline,
}


def digest_dir(root):
    """SHA-256 over (relative path, bytes) of every file except the manifest."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            if rel == "manifest.json":
                continue
            h.update(rel.encode("utf-8") + b"\0")
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def text_properties(posts, corpus):
    """Posts, tokens, vocabulary, OOV token share and text bytes."""
    tokens = 0
    oov_tokens = 0
    seen = set()
    oov_sets = {l: {corpus.vocab[l][i] for i in corpus.oov[l]} for l in corpus.langs}
    text_bytes = 0
    for l, t in posts:
        ws = t.split(" ")
        tokens += len(ws)
        text_bytes += len(t.encode("utf-8"))
        o = oov_sets[l]
        for w in ws:
            seen.add((l, w))
            if w in o:
                oov_tokens += 1
    return dict(tokens=tokens, vocabulary=len(seen),
                oov_token_share=round(oov_tokens / max(tokens, 1), 6),
                text_bytes=text_bytes)


def generate(workload, seed, out, size=None):
    """Generate one workload's inputs into `out` (replaced); returns the manifest."""
    size = dict(SIZES[workload] if size is None else size)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng([GEN_VERSION, seed])
    res = GENERATORS[workload](rng, size, out)
    props, posts, corpus = res[0], res[1], res[2]
    truth = res[3] if len(res) > 3 else {}
    props.update(text_properties(posts, corpus))
    props["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(out) for f in fs)
    if "reposts" in props:
        props["dup_share"] = round(
            (props["reposts"] + props["near_dups"]) / props["arrivals"], 6)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    manifest = dict(workload=workload, seed=seed, gen_version=GEN_VERSION,
                    size=size, properties=props, digest=digest_dir(out))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return manifest


def cached(workload, seed, out):
    """The manifest of inputs already in `out`, if they match and verify."""
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return None
    if (m.get("workload"), m.get("seed"), m.get("gen_version"), m.get("size")) != \
            (workload, seed, GEN_VERSION, SIZES[workload]):
        return None
    return m if digest_dir(out) == m.get("digest") else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps(m["properties"], sort_keys=True))
    print("digest", m["digest"])


if __name__ == "__main__":
    sys.exit(main())
