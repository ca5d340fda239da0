"""Seeded input generators for the benchmark workloads.

Each generator writes its workload's parquet inputs into a directory and
returns the ground truth the checker compares the program's outputs with,
plus the properties it planted (shares, counts) so that a change that
helps only inputs with some property can quote each workload's share of it.
The same seed always gives the same inputs.
"""
import datetime
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_HISTORY = 1000  # TrainingPipeline.DefaultMaxHistory
EPOCH_US = int(datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 10**6
DAY_US = 86_400 * 10**6
MINUTE_US = 60 * 10**6

# Training inputs: customers, days of actions, and carousels of 10 items
# shown on the last IMPRESSION_DAYS days.
CUSTOMERS = 1000
DAYS = 14
IMPRESSION_DAYS = 7
CAROUSELS = 300
CAROUSEL_ITEMS = 10
ITEMS = 5000
HOT_SHARE = 0.03      # customers with more actions than MAX_HISTORY
NO_ACTION_SHARE = 0.10  # customers with no action at all
HOT_ACTIONS = (1100, 1600)  # capped: an uncapped tail blows the join up
NORMAL_ACTIONS_MEDIAN = 25
NORMAL_ACTIONS_CAP = 800

# Corpus: documents with planted low-quality, exact-duplicate and
# near-duplicate documents and boilerplate passages.
DOCS = 800
LOW_QUALITY_SHARE = 0.08
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.25
BOILERPLATE_DOC_SHARE = 0.30
BOILERPLATE_PASSAGES = 24
PASSAGE_LEN = 8  # Curation.curateCorpus default

# Embeddings: clustered vectors built from per-subspace codewords, so that
# product quantization with the engine's placeholder codebooks (the first
# 16 vectors) can rank them.
VECTORS = 1500
DIM = 32
SUBSPACES = 8  # Similarity.ivfPqSearch default m
CODES = 16     # Similarity.ivfPqSearch default codes and numCentroids
CLUSTERS = 16
CODE_KEEP = 0.7  # chance a member keeps its cluster's code in a subspace
NOISE = 0.15
QUERIES = 60


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(us):
    return np.datetime_as_string((us // DAY_US * DAY_US).astype("datetime64[us]"), unit="D")


def gen_training(seed, out):
    """Impressions and the three action streams, with per-customer action
    counts drawn heavy-tailed but capped: a fixed share of customers above
    MAX_HISTORY (the top-K cut matters) and a fixed share with none (the
    zero-pad path). Action times sit on whole minutes, so ties occur and the
    pipeline's total order decides them.
    """
    rng = np.random.default_rng(seed)
    perm = rng.permutation(CUSTOMERS)
    n_hot = int(CUSTOMERS * HOT_SHARE)
    n_none = int(CUSTOMERS * NO_ACTION_SHARE)
    hot, normal = perm[:n_hot], perm[n_hot + n_none:]
    counts = np.zeros(CUSTOMERS, dtype=np.int64)
    counts[hot] = rng.integers(*HOT_ACTIONS, size=n_hot)
    drawn = rng.lognormal(np.log(NORMAL_ACTIONS_MEDIAN), 1.0, size=len(normal)).astype(np.int64)
    counts[normal] = np.clip(drawn, 1, NORMAL_ACTIONS_CAP)

    cust = np.repeat(np.arange(1, CUSTOMERS + 1, dtype=np.int64), counts)
    n = len(cust)
    time = EPOCH_US + rng.integers(0, DAYS * 1440, size=n) * MINUTE_US
    item = rng.integers(1, ITEMS + 1, size=n)
    kind = rng.choice(np.array([1, 2, 3]), size=n, p=[0.7, 0.2, 0.1])
    simple = rng.integers(0, 10, size=n).astype(np.int32)
    ts = pa.array(time, type=pa.timestamp("us", tz="UTC"))
    day = _days(time)

    def stream(k):
        return np.nonzero(kind == k)[0]

    c = stream(1)
    _write(pa.table({
        "dt": day[c], "customer_id": cust[c], "item_id": item[c], "click_time": ts.take(c)}),
        f"{out}/clicks.parquet")
    for k, name, day_col in ((2, "add_to_carts", "dt"), (3, "orders", "order_date")):
        s = stream(k)
        _write(pa.table({
            day_col: day[s], "customer_id": cust[s], "config_id": item[s],
            "simple_id": simple[s], "occurred_at": ts.take(s)}), f"{out}/{name}.parquet")

    # Carousels are dealt to hot, action-less and other customers in the
    # customer shares, so the join's size barely moves from seed to seed.
    n_hot_car = int(round(CAROUSELS * HOT_SHARE))
    n_none_car = int(round(CAROUSELS * NO_ACTION_SHARE))
    car_cust = 1 + rng.permutation(np.concatenate([
        rng.choice(hot, size=n_hot_car),
        rng.choice(perm[n_hot:n_hot + n_none], size=n_none_car),
        rng.choice(normal, size=CAROUSELS - n_hot_car - n_none_car)])).astype(np.int64)
    car_day = rng.integers(DAYS - IMPRESSION_DAYS, DAYS, size=CAROUSELS)
    cutoff = EPOCH_US + car_day * DAY_US
    car_items = rng.integers(1, ITEMS + 1, size=(CAROUSELS, CAROUSEL_ITEMS)).astype(np.int64)
    car_orders = rng.random((CAROUSELS, CAROUSEL_ITEMS)) < 0.1
    ranking = np.array([f"r{i:06d}" for i in range(CAROUSELS)])
    car_dt = _days(cutoff)
    imp_type = pa.list_(pa.struct([("item_id", pa.int64()), ("is_order", pa.bool_())]))
    imps = [[{"item_id": int(a), "is_order": bool(b)} for a, b in zip(r, o)]
            for r, o in zip(car_items, car_orders)]
    _write(pa.table({
        "dt": car_dt, "ranking_id": ranking, "customer_id": car_cust,
        "impressions": pa.array(imps, type=imp_type)}), f"{out}/impressions.parquet")

    # Reference histories: each customer's actions in the pipeline's total
    # order (time desc, item, type); a carousel's history is the first K of
    # those strictly before its day.
    order = np.lexsort((kind, item, -time, cust))
    s_cust, s_time, s_item, s_kind = cust[order], time[order], item[order], kind[order]
    start = np.searchsorted(s_cust, car_cust, "left")
    end = np.searchsorted(s_cust, car_cust, "right")
    hist_items = np.zeros((CAROUSELS, MAX_HISTORY), dtype=np.int64)
    hist_kinds = np.zeros((CAROUSELS, MAX_HISTORY), dtype=np.int32)
    prior = np.zeros(CAROUSELS, dtype=np.int64)
    for i in range(CAROUSELS):
        b, e = start[i], end[i]
        j = b + np.searchsorted(-s_time[b:e], -cutoff[i], "right")
        prior[i] = e - j
        take = min(MAX_HISTORY, e - j)
        hist_items[i, :take] = s_item[j:j + take]
        hist_kinds[i, :take] = s_kind[j:j + take]

    n_examples = CAROUSELS * CAROUSEL_ITEMS
    truth = {
        "ranking_id": ranking, "dt": car_dt, "customer_id": car_cust,
        "items": car_items, "labels": car_orders.astype(np.int32),
        "hist_items": hist_items, "hist_kinds": hist_kinds,
    }
    props = {
        "customers": CUSTOMERS, "actions": int(n), "carousels": CAROUSELS,
        "examples": n_examples, "max_history": MAX_HISTORY,
        "share_customers_above_max_history": float(np.mean(counts > MAX_HISTORY)),
        "share_impressions_above_max_history": float(np.mean(prior > MAX_HISTORY)),
        "share_impressions_no_prior_action": float(np.mean(prior == 0)),
        "hot_customer_action_share": float(counts[hot].sum() / n),
        # Rows of O4's impressions x actions join: each impressed item
        # meets every prior action of its customer (one null row if none).
        "direct_join_rows": int((np.maximum(prior, 1) * CAROUSEL_ITEMS).sum()),
    }
    return truth, props, {"rows": n_examples}


def _random_words(rng, n, lo, hi, avoid):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        length = int(rng.integers(lo, hi + 1))
        w = "".join(rng.choice(letters, size=length))
        if w not in avoid:
            words.add(w)
    return sorted(words)


def gen_corpus(seed, out):
    """Documents with planted duplicates. Base documents are whole
    passages long, use stopwords, and some carry boilerplate passages at
    passage-aligned slots. Low-quality documents each fail one rule of the
    quality filter. Exact duplicates copy a base document; near-duplicates
    copy one and substitute 2-12% of its words.
    """
    rng = np.random.default_rng(seed)
    stop = {"the", "a"}
    vocab = np.array(_random_words(rng, 6000, 3, 7, stop))
    long_vocab = np.array(_random_words(rng, 400, 10, 14, stop))
    boiler = [" ".join(rng.choice(vocab, size=PASSAGE_LEN)) for _ in range(BOILERPLATE_PASSAGES)]

    def base_words():
        words = list(rng.choice(vocab, size=PASSAGE_LEN * int(rng.integers(8, 17))))
        for i in np.nonzero(rng.random(len(words)) < 0.1)[0]:
            words[i] = "the" if rng.random() < 0.5 else "a"
        if rng.random() < BOILERPLATE_DOC_SHARE:
            slots = rng.choice(len(words) // PASSAGE_LEN, size=int(rng.integers(1, 3)), replace=False)
            for s in slots:
                words[s * PASSAGE_LEN:(s + 1) * PASSAGE_LEN] = boiler[int(rng.integers(len(boiler)))].split()
        return words

    n_low = int(DOCS * LOW_QUALITY_SHARE)
    n_exact = int(DOCS * EXACT_DUP_SHARE)
    n_near = int(DOCS * NEAR_DUP_SHARE)
    n_base = DOCS - n_low - n_exact - n_near
    texts = [" ".join(base_words()) for _ in range(n_base)]
    for i in range(n_low):
        if i % 3 == 0:    # too short
            words = list(rng.choice(vocab, size=int(rng.integers(12, 36))))
            words[0] = "the"
        elif i % 3 == 1:  # no stopword
            words = list(rng.choice(vocab, size=64))
        else:             # words too long on average
            words = list(rng.choice(long_vocab, size=64))
            words[0] = "a"
        texts.append(" ".join(words))
    exact_src = rng.integers(0, n_base, size=n_exact)
    texts += [texts[s] for s in exact_src]
    near_src = rng.integers(0, n_base, size=n_near)
    for s in near_src:
        words = texts[s].split()
        rate = rng.uniform(0.02, 0.12)
        for p in rng.choice(len(words), size=max(1, int(round(rate * len(words)))), replace=False):
            w = words[p]
            while w == words[p]:
                w = str(rng.choice(vocab))
            words[p] = w
        texts.append(" ".join(words))

    ids = rng.permutation(DOCS).astype(np.int64) + 1
    sources = rng.choice(np.array(["web", "books", "news", "code"]), size=DOCS)
    _write(pa.table({"doc_id": ids, "text": texts, "source": sources}), f"{out}/documents.parquet")

    near_first = n_base + n_low + n_exact
    near_pairs = {tuple(sorted((int(ids[s]), int(ids[near_first + i]))))
                  for i, s in enumerate(near_src)}
    truth = {"docs": list(zip(ids.tolist(), texts)), "near_pairs": near_pairs}
    props = {
        "documents": DOCS,
        "low_quality_share": n_low / DOCS,
        "exact_dup_share": n_exact / DOCS,
        "near_dup_share": n_near / DOCS,
        "near_dup_pairs": len(near_pairs),
        "boilerplate_passages": BOILERPLATE_PASSAGES,
        "boilerplate_doc_share": float(np.mean([any(b in t for b in boiler) for t in texts])),
    }
    return truth, props, {"rows": DOCS}


def expected_verdicts(docs):
    """Curation.curateCorpus's verdict per document, derived independently:
    quality rules, then passages seen in more than one passing document are
    dropped (maxDocFreq = 1: this strips the passages planted duplicates
    share, so exact duplicates clean to the empty text and collapse into one
    canonical document), then exact dedup of the cleaned text, lowest id
    kept, and the md5 split of the keepers.
    """
    passing = {}
    for doc_id, text in docs:
        words = text.split()
        avg = sum(len(w) for w in words) / len(words)
        if 40 <= len(words) <= 10000 and 3.0 <= avg <= 8.0 and any(w in ("the", "a") for w in words):
            passing[doc_id] = [" ".join(words[i:i + PASSAGE_LEN]) for i in range(0, len(words), PASSAGE_LEN)]
    freq = {}
    for passages in passing.values():
        for p in set(passages):
            freq[p] = freq.get(p, 0) + 1
    clean, dropped, canonical = {}, {}, {}
    for doc_id, passages in passing.items():
        kept = [p for p in passages if freq[p] <= 1]
        clean[doc_id] = " ".join(kept)
        dropped[doc_id] = len(passages) - len(kept)
        canonical[clean[doc_id]] = min(doc_id, canonical.get(clean[doc_id], doc_id))
    out = {}
    for doc_id, _ in docs:
        if doc_id not in passing:
            out[doc_id] = ("rejected_quality", None, None, 0)
            continue
        canon = canonical[clean[doc_id]]
        if canon != doc_id:
            out[doc_id] = ("dropped_duplicate", canon, None, dropped[doc_id])
            continue
        bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        split = "train" if bucket < 80 else "val" if bucket < 90 else "test"
        out[doc_id] = ("kept", None, split, dropped[doc_id])
    return out


def gen_embeddings(seed, out):
    """Unit vectors in CLUSTERS clusters. Each subspace has CODES random
    codewords; cluster k's prototype uses codeword k everywhere, and a
    member keeps it per subspace with chance CODE_KEEP (else draws another),
    plus noise. Vector ids 0..CLUSTERS-1 are the noise-free prototypes, so
    the engine's placeholder centroids and codebooks (the first 16 vectors)
    are the true ones.
    """
    rng = np.random.default_rng(seed)
    sub = DIM // SUBSPACES
    codewords = rng.normal(size=(SUBSPACES, CODES, sub))
    cluster = np.arange(VECTORS) % CLUSTERS
    codes = np.where(rng.random((VECTORS, SUBSPACES)) < CODE_KEEP,
                     cluster[:, None], rng.integers(0, CODES, size=(VECTORS, SUBSPACES)))
    codes[:CLUSTERS] = np.arange(CLUSTERS)[:, None]
    x = codewords[np.arange(SUBSPACES)[None, :], codes].reshape(VECTORS, DIM)
    x[CLUSTERS:] += NOISE * rng.normal(size=(VECTORS - CLUSTERS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(pa.list_(pa.float32()))
    _write(pa.table({
        "vec_id": np.arange(VECTORS, dtype=np.int64), "embedding": emb,
        "label": cluster.astype(np.int32)}), f"{out}/embeddings.parquet")
    props = {"vectors": VECTORS, "dim": DIM, "clusters": CLUSTERS, "queries": QUERIES}
    return {"x": x}, props, {"rows": QUERIES, "queries": QUERIES}


def exact_neighbours(x, queries, k=10):
    """Similarity.knnBruteForce's answer: per query, the k other vectors
    with the largest exact integer dot product of floor(x * 1e6), lowest
    id on ties.
    """
    q = np.floor(x.astype(np.float64) * 1000000.0).astype(np.int64)
    out = {}
    for i in range(queries):
        dp = q @ q[i]
        order = np.lexsort((np.arange(len(q)), -dp))
        out[i] = [int(j) for j in order[order != i][:k]]
    return out


def gen_corpus_ops(seed, out):
    """The documents and the embedding table of one corpus snapshot."""
    docs_truth, docs_props, docs_meta = gen_corpus(seed, out)
    emb_truth, emb_props, emb_meta = gen_embeddings(seed, out)
    return {**docs_truth, **emb_truth}, {**docs_props, **emb_props}, {**emb_meta, **docs_meta}


GENERATORS = {
    "train_examples": gen_training,
    "corpus_ops": gen_corpus_ops,
}
