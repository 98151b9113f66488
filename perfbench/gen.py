"""Seeded input generator for the benchmark workloads.

One process writes every input a workload needs, from the seed alone:
the same seed gives byte-identical parquet, another seed other data.
The planted duplicate clusters go to `truth.parquet`, beside the corpus
directory and outside it; the program under test reads only the corpus.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# English function and content words head the Zipf ranking, so the
# quality stage's trigram language check reads every document as `en`.
HEAD = """the of and to a in is that for it as was with be by on not he this are
or his from at which but have an they you were their one all we can her has
there been if more when will would who so no she other its may these about into
than them time only some could new then first also two like any people my what
over such our man me even most made after well year work where many those back
through much before must way same great good world life because each part state
between should under while long system high water city house small large place
school country number point government during without again against never public
history early river music family found called known used often later among both
since until around still another second however several local court church
market power field light story order music train heart voice table""".split()

# Long tail: prefix + root + suffix gives ~130,000 word types. Under the
# Zipf exponent below a 600-doc corpus draws a lexicon of ~8k words, so BPE
# at vocab 32,000 stops when no pair occurs twice; a lexicon that reaches
# 32k merges makes training alone take tens of seconds on one thread.
PREFIXES = ("", "un", "re", "pre", "over", "under", "out", "mis", "dis", "non",
            "inter", "super", "sub", "counter", "fore", "trans", "semi", "anti",
            "mid", "post", "co", "de", "en", "up", "down")
ROOTS = """act age aim air arm art ask bank bar base bear beat bell bend bill bind
bird bite blow board boat body bond bone book boot born bowl box brain branch
bread break breath bridge brush build burn bush call camp card care cart case
cast catch cause chain chair chance change charge chart check chest child claim
class clean clear climb clock close cloth cloud coast coat code coin cold color
cook cool copy corn count cover crack craft crowd crown cry cup curve cut dance
dark deal dear debt deep desk draft drain draw dream dress drift drink drive drop
drum dust earth edge end face fact fair faith fall farm fear feed feel fight fill
film find fire fish fit flag flame flat float floor flow fly fold food foot force
form frame fruit fuel fund game gate gift glass goal gold grain grant grass ground
group grow guard guess guide hand hang harm head hear heat help hold hole hope horn
horse host hour hunt ice idea iron joint joke judge jump keep key kind king knee
knot land law lead leaf learn leave lend level lift line link list load lock look
loss love mark mass match meal mean meet mind mine miss mix mode move name nest net
note oil pack page pain paint pair pass path pay peace pen pick pipe plan plant
plate play plot post pour press print prize pull pump push quest race rain range
rate reach read rest ride ring rise risk road rock roll roof room root rope rule
rush salt sand save scale scene seal seat seed sense serve set shade shape share
shell shift ship shock shoe shop show side sign silk sing sink size skill sky
sleep slide slope smell smile smoke snow sound space speak speed spell spend
spring stage stand star start steam steel step stock stone""".split()
SUFFIXES = ("", "s", "ed", "ing", "er", "ers", "ly", "ness", "ment", "ful",
            "less", "able", "ism", "ist", "ship", "hood", "ward", "ive", "ion", "ure")

N_DOCS = {"pipeline_ref": 600, "dedup_pass": 3000, "query_menu": 200}
WARM_DOCS = 100
LANGS = ("en", "fr", "es", "de", "zh")


def vocabulary(rng):
    """Word types in Zipf rank order: HEAD first, then the tail shuffled."""
    tail = [p + r + s for p in PREFIXES for r in ROOTS for s in SUFFIXES]
    tail = sorted(set(tail) - set(HEAD))
    order = rng.permutation(len(tail))
    return np.array(HEAD + [tail[i] for i in order], dtype=object)


def zipf_probs(n, s=1.3):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def render(words, rng, noisy, ascii_only=False):
    """Sentences, paragraphs and, on noisy docs, the markup clean removes."""
    out, i, n = [], 0, len(words)
    while i < n:
        k = int(rng.integers(8, 21))
        sent = list(words[i:i + k])
        i += k
        sent[0] = sent[0].capitalize()
        if noisy and rng.random() < 0.3:
            sent[-1] += "[%d]" % rng.integers(1, 60)
        out.append(" ".join(sent) + ".")
    # A paragraph break per ~5 sentences; 2 or 3 lines would trip the
    # repetition check (one distinct line over 3 lines is > 0.3).
    per = 5
    paras = [" ".join(out[j:j + per]) for j in range(0, len(out), per)]
    if len(paras) in (2, 3):
        paras = [" ".join(paras)]
    text = "\n".join(paras)
    if noisy:
        r = rng.random()
        if r < 0.35:
            text += " See https://www.example%d.org/wiki/%s for more." % (
                rng.integers(1, 999), words[0])
        elif r < 0.55:
            text += " Contact editor%d@example.com today." % rng.integers(1, 999)
        elif r < 0.7:
            text = text.replace(" the ", " the   ", 3) + "\n\n\n\n"
        elif not ascii_only:
            text = text.replace(" is ", " isnâ€™t ", 2)
    return text


def corpus(rng, n, dup_share, clique, median_words=120, max_words=1500, ascii_only=False):
    """Documents plus planted clusters.

    Returns (texts, doc_ids, cluster, is_base), cluster -1 for unplanted
    docs: a cluster's base has the lowest doc_id in it, so a lowest-id-wins
    dedup keeps exactly the base.
    """
    vocab = vocabulary(rng)
    probs = zipf_probs(len(vocab))
    n_dup = int(n * dup_share)
    n_base = n - n_dup - clique
    lengths = np.clip(rng.lognormal(np.log(median_words), 0.7, n_base), 8, max_words).astype(int)
    draws = rng.choice(len(vocab), size=int(lengths.sum()), p=probs)
    texts, pos = [], 0
    for ln in lengths:
        words = vocab[draws[pos:pos + ln]]
        pos += ln
        texts.append(render(words, rng, rng.random() < 0.4, ascii_only))
    cluster = [-1] * n_base
    is_base = [False] * n_base
    # Planted duplicates: half byte-identical, half near-duplicates with one
    # word replaced per 100 (estimated Jaccard well above the 0.8 cut).
    bases = rng.choice(n_base, size=max(1, n_dup // 3), replace=False)
    for c, b in enumerate(bases):
        cluster[b] = c
        is_base[b] = True
    for k in range(n_dup):
        c = k % len(bases)
        src = texts[bases[c]].split(" ")
        if k % 2 == 1:
            for _ in range(max(1, len(src) // 100)):
                src[int(rng.integers(len(src)))] = str(vocab[rng.integers(len(HEAD))])
        texts.append(" ".join(src))
        cluster.append(c)
        is_base.append(False)
    if clique:
        # One boilerplate page repeated many times: a single hot LSH bucket.
        c = len(bases)
        page = render(vocab[rng.choice(len(HEAD), size=160)], rng, False)
        page += " Copyright 2024. All rights reserved."
        for k in range(clique):
            texts.append(page)
            cluster.append(c)
            is_base.append(k == 0)
    # doc_ids: bases of clusters get the lower ids inside their cluster.
    order = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts))
    clusters = {}
    for i, c in enumerate(cluster):
        if c >= 0:
            clusters.setdefault(c, []).append(i)
    for members in clusters.values():
        base = next(i for i in members if is_base[i])
        lo = min(members, key=lambda i: ids[i])
        ids[base], ids[lo] = ids[lo], ids[base]
    return texts, ids, cluster, is_base


def write_docs(path, rng, texts, ids):
    idx = np.argsort(ids)
    texts = [texts[i] for i in idx]
    t = pa.table({
        "doc_id": pa.array(ids[idx], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, len(texts))]),
        "source": pa.array(["src%d" % i for i in rng.integers(0, 20, len(texts))]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    pq.write_table(t, path, row_group_size=250)


def write_truth(path, ids, cluster, is_base):
    keep = [i for i, c in enumerate(cluster) if c >= 0]
    pq.write_table(pa.table({
        "doc_id": pa.array([int(ids[i]) for i in keep], pa.int64()),
        "cluster": pa.array([cluster[i] for i in keep], pa.int64()),
        "is_base": pa.array([is_base[i] for i in keep], pa.bool_()),
    }), path)


def ts(rng, n, start, days):
    us = np.datetime64(start, "us").astype(np.int64) + rng.integers(0, days * 86400 * 10**6, n)
    return pa.array(us, pa.timestamp("us"))


def day_ts(rng, n, start, days):
    us = np.datetime64(start, "us").astype(np.int64) + rng.integers(0, days, n) * 86400 * 10**6
    return pa.array(us, pa.timestamp("us"))


def relational(rng, d):
    """The nine non-document tables, with the schemas and value domains the
    query menu's operators and oracles are written for (scale ~0.001)."""
    n_cust, n_supp, n_part, n_ord, n_ev, n_emb = 150, 10, 200, 1500, 1000, 500
    w = lambda name, cols: pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))
    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": ["NATION_%d" % i for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    w("customer", {"c_custkey": pa.array(range(n_cust), pa.int64()),
                   "c_name": ["Customer#%09d" % i for i in range(n_cust)],
                   "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                   "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                   "c_mktsegment": [("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                     "MACHINERY")[i] for i in rng.integers(0, 5, n_cust)]})
    w("supplier", {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                   "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
                   "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                   "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = ("cold", "small", "large", "blue", "red", "green", "smooth", "tiny")
    noun = ("widget", "bolt", "rod", "gear", "valve", "spring", "nut", "pipe")
    w("part", {"p_partkey": pa.array(range(n_part), pa.int64()),
               "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                          zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
               "p_brand": ["Brand#%d" % i for i in rng.integers(1, 26, n_part)],
               "p_type": [("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")[i]
                          for i in rng.integers(0, 6, n_part)],
               "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
               "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    w("orders", {"o_orderkey": pa.array(range(n_ord), pa.int64()),
                 "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                 "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                 "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                 "o_orderdate": day_ts(rng, n_ord, "1995-01-01", 2400),
                 "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW")[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    w("lineitem", {"l_orderkey": pa.array(okey, pa.int64()),
                   "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                   "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                   "l_linenumber": pa.array(lnum, pa.int32()),
                   "l_quantity": qty,
                   "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
                   "l_discount": rng.integers(0, 11, n_li) / 100.0,
                   "l_tax": rng.integers(0, 9, n_li) / 100.0,
                   "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
                   "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
                   "l_shipdate": day_ts(rng, n_li, "1995-01-02", 2500)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    w("events", {"event_id": pa.array(range(n_ev), pa.int64()),
                 "ts": pa.array(ev_ts, pa.timestamp("us")),
                 "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
                 "event_type": [("view", "click", "purchase", "signup", "error")[i]
                                for i in rng.choice(5, n_ev, p=[.5, .25, .1, .1, .05])],
                 "value": np.round(rng.exponential(60, n_ev) + 0.01, 2),
                 "props": ['{"k": %d}' % i for i in rng.integers(0, 100, n_ev)]})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    w("embeddings", {"vec_id": pa.array(range(n_emb), pa.int64()),
                     "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, sorted(N_DOCS).index(workload)])
    corpus_dir = os.path.join(out, "corpus")
    warm_dir = os.path.join(out, "warm")
    os.makedirs(corpus_dir)
    os.makedirs(warm_dir)
    n = N_DOCS[workload]
    if workload == "dedup_pass":
        texts, ids, cluster, is_base = corpus(rng, n, 0.25, n // 5)
    elif workload == "query_menu":
        # Short ASCII docs: the value domain the operator tables have.
        texts, ids, cluster, is_base = corpus(rng, n, 0.02, 0, median_words=45,
                                              max_words=100, ascii_only=True)
    else:
        texts, ids, cluster, is_base = corpus(rng, n, 0.02, 0)
    write_docs(os.path.join(corpus_dir, "documents.parquet"), rng, texts, ids)
    write_truth(os.path.join(out, "truth.parquet"), ids, cluster, is_base)
    wt, wi, _, _ = corpus(rng, WARM_DOCS, 0.02, 0, median_words=60)
    write_docs(os.path.join(warm_dir, "documents.parquet"), rng, wt, wi)
    if workload == "query_menu":
        relational(rng, corpus_dir)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in N_DOCS:
        sys.exit("usage: gen.py {%s} <seed> <out_dir>" % "|".join(sorted(N_DOCS)))
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
