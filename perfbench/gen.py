"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed (and the committed sf0.1
pool for `analytics`): the same seed writes byte-identical tables.

- `search_inputs`: natural-looking text over a 20k-term vocabulary with
  Zipf(1.0) term frequencies and `lang`/`source` metadata, query pools,
  and per-step landings (new docs and re-landed updates of live docs)
  and takedowns (search).
- `templated_corpus`: documents assembled from a small shared phrase
  bank (a ~40-word vocabulary, the sf regime) with planted families of
  exact and near duplicates (dedup).
- `sf_subsample`: a key-consistent subsample of the committed sf0.1
  pool (analytics): customers -> their orders -> their lineitems, users
  -> their events, and a share of documents/embeddings.

Each writer returns a dict of input properties that the run records.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 8
STOPWORDS = ["the", "a", "of", "and", "is", "in", "to"]
_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")

POOL_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings"]


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed) & 0xFFFFFFFF, stream]))


def vocabulary(seed, size):
    """`size` distinct lowercase pseudo-words (2-4 syllables)."""
    rng = _rng(seed, 1)
    words, seen = [], set(STOPWORDS)
    while len(words) < size:
        n = size - len(words)
        syl = rng.integers(2, 5, n)
        cons = rng.integers(0, len(_CONS), (n, 4))
        vows = rng.integers(0, len(_VOWS), (n, 4))
        for i in range(n):
            w = "".join(_CONS[cons[i, j]] + _VOWS[vows[i, j]] for j in range(syl[i]))
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def zipf_probs(n, s=1.0):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _zipf_docs(rng, vocab, probs, n_docs, min_len, max_len):
    lens = rng.integers(min_len, max_len + 1, n_docs)
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    # a stopword every ~12 tokens keeps the text natural-looking
    stop = rng.random(toks.size) < 0.08
    stop_ix = rng.integers(0, len(STOPWORDS), toks.size)
    texts, off = [], 0
    for ln in lens:
        ws = [STOPWORDS[stop_ix[j]] if stop[j] else vocab[toks[j]]
              for j in range(off, off + ln)]
        texts.append(" ".join(ws))
        off += ln
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    srcs = rng.integers(0, N_SOURCES, n_docs)
    return texts, [LANGS[i] for i in langs], ["src%d" % i for i in srcs]


def _doc_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _corpus_props(tables):
    texts = [t for tb in tables for t in tb.column("text").to_pylist()]
    df = {}
    n_tok = 0
    for t in texts:
        ws = t.split()
        n_tok += len(ws)
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    return {"docs": len(texts), "tokens": n_tok, "vocab": len(df),
            "longest_posting_list": max(df.values()) if df else 0,
            "bytes": sum(len(t.encode()) for t in texts)}


SERVE_SHAPES = ["term", "bool", "phrase", "ranked"]
# after a churn step `_stats` still counts the taken-down docs, so step
# queries use the shapes that read postings only
STEP_SHAPES = ["term", "bool", "phrase"]


def query_pool(seed, stream, vocab, probs, texts, shapes, n):
    """`n` query strings, shapes round-robin. Single terms are drawn
    Zipf-weighted from the whole vocabulary, so hot (long posting list)
    and rare terms both appear; bool and phrase operands are drawn from
    one document's tokens, so they match something.
    """
    rng = _rng(seed, stream)
    out = []
    for i in range(n):
        shape = shapes[i % len(shapes)]
        t1, t2 = (vocab[j] for j in rng.choice(len(vocab), size=2, p=probs))
        ws = texts[int(rng.integers(0, len(texts)))].split()
        j = int(rng.integers(0, len(ws) - 1))
        if shape == "term":
            q = t1
        elif shape == "bool":
            q = "%s AND %s" % (ws[j], ws[int(rng.integers(0, len(ws)))])
        elif shape == "phrase":
            q = '"%s %s"' % (ws[j], ws[j + 1])
        else:  # ranked
            q = "%s OR %s" % (t1, t2)
        out.append((shape, q))
    return pa.table({"shape": [s for s, _ in out], "query": [q for _, q in out]})


def search_inputs(seed, out_dir, n_base, n_steps, new_per_step, updates_per_step,
                  takedowns_per_step, n_queries, vocab_size=20000):
    """Write the search workload's inputs:
    - `documents.parquet` (doc_id, text, lang, source, n_chars): the base
      corpus;
    - `queries.parquet` (shape, query): the serving pool, four shapes;
    - `land.parquet` (step, + the document columns): per churn step, new
      docs and re-landed updates of live docs;
    - `takedown.parquet` (step, doc_id): per churn step, live docs to take
      down. A takedown never names a doc landed or updated in the same
      step, and a taken-down id never lands again;
    - `churn_queries.parquet` (shape, query): the pool queried after each
      churn step.
    """
    rng = _rng(seed, 4)
    vocab = vocabulary(seed, vocab_size)
    probs = zipf_probs(vocab_size)
    texts, langs, srcs = _zipf_docs(rng, vocab, probs, n_base, 20, 100)
    base = _doc_table(list(range(n_base)), texts, langs, srcs)
    live = list(range(n_base))
    next_id = n_base
    land_cols = {k: [] for k in ["step", "doc_id", "text", "lang", "source"]}
    td_step, td_id = [], []
    for step in range(n_steps):
        new_ids = list(range(next_id, next_id + new_per_step))
        next_id += new_per_step
        upd = [live[i] for i in rng.choice(len(live), updates_per_step, replace=False)]
        ids = new_ids + upd
        t, lg, sr = _zipf_docs(rng, vocab, probs, len(ids), 20, 100)
        land_cols["step"] += [step] * len(ids)
        land_cols["doc_id"] += ids
        land_cols["text"] += t
        land_cols["lang"] += lg
        land_cols["source"] += sr
        touched = set(ids)
        cand = [d for d in live if d not in touched]
        gone = sorted(cand[i] for i in rng.choice(len(cand), takedowns_per_step, replace=False))
        td_step += [step] * len(gone)
        td_id += gone
        gone_set = set(gone)
        live = [d for d in live if d not in gone_set] + new_ids
    land = pa.table({
        "step": pa.array(land_cols["step"], pa.int32()),
        "doc_id": pa.array(land_cols["doc_id"], pa.int64()),
        "text": pa.array(land_cols["text"], pa.string()),
        "lang": pa.array(land_cols["lang"], pa.string()),
        "source": pa.array(land_cols["source"], pa.string()),
        "n_chars": pa.array([len(x) for x in land_cols["text"]], pa.int64()),
    })
    td = pa.table({"step": pa.array(td_step, pa.int32()),
                   "doc_id": pa.array(td_id, pa.int64())})
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(base, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(land, os.path.join(out_dir, "land.parquet"))
    pq.write_table(td, os.path.join(out_dir, "takedown.parquet"))
    pq.write_table(query_pool(seed, 3, vocab, probs, texts, SERVE_SHAPES, n_queries),
                   os.path.join(out_dir, "queries.parquet"))
    pq.write_table(query_pool(seed, 6, vocab, probs, texts, STEP_SHAPES, n_queries),
                   os.path.join(out_dir, "churn_queries.parquet"))
    props = _corpus_props([base])
    props.update({"vocab_size": vocab_size, "steps_planned": n_steps,
                  "new_per_step": new_per_step, "updates_per_step": updates_per_step,
                  "takedowns_per_step": takedowns_per_step})
    return props


# a small shared vocabulary (the sf regime: every doc draws from the
# same few dozen words) arranged as a phrase bank, so unrelated docs
# share many shingles and the near-dup graph is dense
_TWORDS = ("spark data query table stream batch index join scan filter sort "
           "group value key window merge vector hash fast slow big small row "
           "column order part line agg customer node graph shard cache plan "
           "task stage").split()


def templated_corpus(seed, out_dir, n_docs, exact_families, exact_copies,
                     near_families, near_copies):
    """Write `documents.parquet` plus `planted.parquet` (doc_id, family,
    kind, canonical) naming every planted copy. Exact copies repeat their
    family root's text verbatim; near copies substitute one token.
    """
    rng = _rng(seed, 5)
    words = _TWORDS + STOPWORDS
    bank = [" ".join(words[j] for j in rng.integers(0, len(words), rng.integers(4, 9)))
            for _ in range(48)]
    texts = []
    for _ in range(n_docs):
        parts = []
        while sum(len(p.split()) for p in parts) < rng.integers(30, 60):
            parts.append(bank[rng.integers(0, len(bank))] if rng.random() < 0.5
                         else " ".join(words[j] for j in rng.integers(0, len(words), 6)))
        texts.append(" ".join(parts))
    ids = list(range(n_docs))
    roots = rng.choice(n_docs, exact_families + near_families, replace=False)
    pl = {"doc_id": [], "family": [], "kind": [], "canonical": []}
    next_id = n_docs
    for f, root in enumerate(roots):
        exact = f < exact_families
        for _ in range(exact_copies if exact else near_copies):
            if exact:
                t = texts[root]
            else:
                ws = texts[root].split()
                j = int(rng.integers(0, len(ws)))
                ws[j] = words[(words.index(ws[j]) + 1 + int(rng.integers(0, len(words) - 1))) % len(words)]
                t = " ".join(ws)
            texts.append(t)
            ids.append(next_id)
            pl["doc_id"].append(next_id)
            pl["family"].append(f)
            pl["kind"].append("exact" if exact else "near")
            pl["canonical"].append(int(root))
            next_id += 1
    # shuffle row order so planted copies are not clustered at the tail
    perm = rng.permutation(len(ids))
    ids = [ids[i] for i in perm]
    texts = [texts[i] for i in perm]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), size=len(ids), p=LANG_P)]
    srcs = ["src%d" % i for i in rng.integers(0, N_SOURCES, len(ids))]
    tb = _doc_table(ids, texts, langs, srcs)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tb, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(pl["doc_id"], pa.int64()),
        "family": pa.array(pl["family"], pa.int32()),
        "kind": pa.array(pl["kind"], pa.string()),
        "canonical": pa.array(pl["canonical"], pa.int64()),
    }), os.path.join(out_dir, "planted.parquet"))
    props = _corpus_props([tb])
    props.update({"exact_families": exact_families, "exact_copies": exact_copies * exact_families,
                  "near_families": near_families, "near_copies": near_copies * near_families})
    return props


def _mix64(x):
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _keep(keys, seed, share):
    """Seeded key filter: key k is kept iff splitmix64(seed, k) falls in
    the first `share` of the hash range, the same verdict for a key in
    every table that carries it (key consistency)."""
    s = _mix64(int(seed) & 0xFFFFFFFF)
    cut = int(share * 2 ** 64)
    return pa.array([_mix64(s ^ int(k)) < cut for k in keys.to_pylist()], pa.bool_())


def sf_subsample(seed, pool_dir, out_dir, share=0.5):
    """Key-consistent seeded subsample of the pool tables."""
    t = {n: pq.read_table(os.path.join(pool_dir, n + ".parquet")) for n in POOL_TABLES}
    cust = t["customer"].filter(_keep(t["customer"]["c_custkey"], seed, share))
    keep_c = pc.is_in(t["orders"]["o_custkey"], value_set=cust["c_custkey"])
    orders = t["orders"].filter(keep_c)
    lineitem = t["lineitem"].filter(
        pc.is_in(t["lineitem"]["l_orderkey"], value_set=orders["o_orderkey"]))
    events = t["events"].filter(_keep(t["events"]["user_id"], seed + 1, share))
    docs = t["documents"].filter(_keep(t["documents"]["doc_id"], seed + 2, share))
    emb = t["embeddings"].filter(_keep(t["embeddings"]["vec_id"], seed + 3, share))
    out = dict(t, customer=cust, orders=orders, lineitem=lineitem, events=events,
               documents=docs, embeddings=emb)
    os.makedirs(out_dir, exist_ok=True)
    for n, tb in out.items():
        pq.write_table(tb, os.path.join(out_dir, n + ".parquet"))
    return {"table_rows": {n: tb.num_rows for n, tb in out.items()}}
