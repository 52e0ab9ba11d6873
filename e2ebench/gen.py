"""Seeded inputs for the three workloads.

Everything here is a pure function of the seed and the sizes in SIZES, so
the same seed gives byte-identical inputs. The program only ever sees the
parquet files written here; the planted duplicates and the doc-id layout
are returned to the checks.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes (README, "Input sizes"): the smallest warehouse at which the traced
# warehouse layers keep their task slots mostly busy; the smallest stream
# batch that holds a whole number of each planted kind, where fixed cost is
# still most of a batch; and a curation size that keeps the traced run,
# which runs every chain, inside the harness's time limit.
SIZES = {
    # curation: crawl pages (doc_id % 10 != 0) and the held-out eval slice
    # (doc_id % 10 == 0), one eval doc per ten pages as in the bench data
    "curation_pages": 400,
    "curation_eval": 40,
    # frontdoor_stream: one history file, then crawl batches of equal size
    "frontdoor_history": 600,
    "frontdoor_batch": 172,
    # warehouse: lineitem rows; parts and suppliers follow TPC-H's ratios
    "warehouse_lineitem": 360000,
}

# Shares measured on the repository's sf0.1 bench data (5,000 documents)
# with the program's own gate and dedup SQL (README, "Where each shape
# comes from"): pages the gate drops because they hold no stopword, English
# pages under 30 tokens, exact copies, and verified near copies (Jaccard
# >= 0.8).
CURATION_SHARES = [("nostop", 446 / 5000), ("short", 781 / 5000), ("exact", 8 / 5000),
                   ("near", 171 / 5000)]
# eval docs the sf0.1 decontamination query matches to a training page
EVAL_CONTAMINATED = 45 / 500
# Token counts by decile of the same documents: pages the gate keeps, short
# pages, pages without stopwords, and all documents.
DECILES = {
    "kept": [30, 37, 44, 51, 58, 65, 71, 78, 85, 92, 100],
    "short": [10, 12, 15, 18, 19, 21, 23, 25, 26, 28, 29],
    "nostop": [10, 12, 13, 15, 17, 19, 22, 26, 33, 41, 91],
    "all": [10, 19, 28, 37, 45, 54, 63, 72, 80, 90, 100],
}
# The front-door mix of the registry query q_stream_frontdoor: per 3,433
# crawled pages, 40 exact re-crawls, 40 near re-crawls and 20 in-batch
# duplicate pairs. At 172 pages a batch that is 2, 2 and 1.
FRONTDOOR_SHARES = {"exact": 40 / 3433, "near": 40 / 3433, "pairs": 20 / 3433}

# The sf0.1 documents draw their words evenly from 31 tokens, two of them
# the English stopwords "the" and "a" (6.6 % of all tokens), and carry no
# punctuation. The generator keeps that shape with its own pseudo-words.
STOPWORDS = ["the", "a"]
STOP_SHARE = 17802 / 270704
CONTENT_WORDS = 29


def _vocab():
    """A fixed vocabulary of pseudo-words, the same for every seed."""
    rng = np.random.default_rng(20100101)
    cons = list("bcdfghklmnprstvz")
    vow = list("aeiou")
    words = set()
    while len(words) < CONTENT_WORDS:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(cons) + rng.choice(vow) for _ in range(n)))
    return sorted(words)


VOCAB = _vocab()


def words_for(rng, n, stop_share=STOP_SHARE):
    """`n` tokens of running text: content words drawn evenly from the
    vocabulary, each token a stopword with probability `stop_share`. With a
    share above 0 the first token is a stopword, so the page reads as
    English whatever its length."""
    toks = [STOPWORDS[int(rng.integers(len(STOPWORDS)))] if st else VOCAB[int(c)]
            for c, st in zip(rng.integers(len(VOCAB), size=n), rng.random(n) < stop_share)]
    if stop_share > 0:
        toks[0] = STOPWORDS[0]
    return toks


def near_copy(toks, tag):
    """`toks` with one fresh token appended, the near re-crawl of the
    registry's q_stream_frontdoor (its text plus " graftzz"); `tag` keeps
    two copies of one page apart."""
    return list(toks) + ["graftzz%d" % tag]


def page(toks, chrome):
    """An HTML page whose main text is `toks`. `chrome` only changes the
    link-dense nav and footer, which main-text extraction drops. The page
    has no title: extraction keeps titles, and a title made of the body's
    first tokens would repeat them."""
    n = len(toks)
    cuts = [0, n // 3, 2 * n // 3, n]
    paras = "".join("<p>" + " ".join(toks[a:b]) + "</p>"
                    for a, b in zip(cuts, cuts[1:]) if b > a)
    return ("<html><head><style>p { margin: 0 }</style></head><body>"
            '<nav><a href="/">Home</a> <a href="/t">Tags</a> '
            '<a href="/a">About</a></nav>' + paras +
            "<script>var v = " + str(chrome) + ";</script>"
            '<footer><a href="/c">mirror ' + str(chrome) + "</a> "
            '<a href="/p">Privacy</a></footer></body></html>')


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _lengths(rng, n, deciles):
    """`n` document lengths spread evenly over the measured `deciles`, in
    seeded order: every seed gets the same multiset, so sizes do not move
    with the seed."""
    q = np.interp(np.linspace(0, 1, n), np.linspace(0, 1, len(deciles)), deciles)
    return [int(x) for x in rng.permutation(q.round())]


def _count(n, share):
    return int(round(n * share))


def curation(seed, out):
    """Crawl pages with the measured shares of exact and near copies and of
    short and stopword-free pages the gate drops, and an eval slice of which
    the measured share overlaps a crawl page. The share of each kind is
    fixed; the seed picks their order, words and copy sources."""
    rng = np.random.default_rng([seed, 1])
    n = SIZES["curation_pages"]
    kinds = [k for k, f in CURATION_SHARES for _ in range(_count(n, f))]
    kinds += ["english"] * (n - len(kinds))
    head = 20  # the first pages are English, so copies always have a source
    kinds = ["english"] * head + list(rng.permutation(kinds[:-head]))
    lengths = {k: iter(_lengths(rng, kinds.count(k), DECILES[d]))
               for k, d in (("english", "kept"), ("short", "short"), ("nostop", "nostop"))}
    ids, html, src, english = [], [], [], []
    for i, kind in enumerate(kinds):
        if kind == "exact":
            toks = english[int(rng.integers(len(english)))]
        elif kind == "near":
            toks = near_copy(english[int(rng.integers(len(english)))], i)
        elif kind == "nostop":
            toks = words_for(rng, next(lengths[kind]), stop_share=0.0)
        else:
            toks = words_for(rng, next(lengths[kind]))
            if kind == "english":
                english.append(toks)
        ids.append(10 * i + 1 + i % 9)
        html.append(page(toks, i))
        src.append("src%d" % (i % 12))
    _write(os.path.join(out, "pages.parquet"), pa.table({
        "doc_id": pa.array(ids, pa.int64()), "source": src, "html": html}))
    m = SIZES["curation_eval"]
    contaminated = set(rng.permutation(m)[:_count(m, EVAL_CONTAMINATED)].tolist())
    eids, etext = [], []
    elen = iter(_lengths(rng, m, DECILES["kept"]))
    for j in range(m):
        toks = words_for(rng, next(elen))
        if j in contaminated:
            base = english[int(rng.integers(len(english)))]
            k = (len(base) * 3) // 5
            toks = base[:k] + toks[:len(base) - k]
        eids.append(10 * (j + 1))
        etext.append(" ".join(toks))
    _write(os.path.join(out, "eval.parquet"), pa.table({
        "doc_id": pa.array(eids, pa.int64()), "text": etext}))


def frontdoor(seed, out, batches):
    """One history file and `batches` crawl files of equal size. Each crawl
    batch mixes new pages, exact re-crawls of earlier pages, near
    re-crawls and in-batch duplicate pairs. Returns the planted pairs:
    exact re-crawl -> canonical crawl id, near re-crawl -> its source."""
    rng = np.random.default_rng([seed, 2])
    next_id = [1]
    admitted = []  # (crawl_id, toks) of pages with text not seen before
    exact, near = [], []

    def new_id():
        next_id[0] += 1
        return next_id[0]

    def emit(rows, toks, cid):
        rows.append((cid, page(toks, int(rng.integers(1 << 30)))))

    files = []
    hist = []
    for m in _lengths(rng, SIZES["frontdoor_history"], DECILES["all"]):
        toks = words_for(rng, m)
        cid = new_id()
        emit(hist, toks, cid)
        admitted.append((cid, toks))
    files.append(hist)
    b = SIZES["frontdoor_batch"]
    n_exact, n_near, n_pairs = (_count(b, FRONTDOOR_SHARES[k]) for k in ("exact", "near", "pairs"))
    n_new = b - n_exact - n_near - 2 * n_pairs
    for _ in range(batches):
        rows, fresh = [], []
        lengths = iter(_lengths(rng, n_new + n_pairs, DECILES["all"]))
        for _ in range(n_exact):
            src_id, toks = admitted[int(rng.integers(len(admitted)))]
            cid = new_id()
            emit(rows, toks, cid)
            exact.append((cid, src_id))
        for _ in range(n_near):
            src_id, toks = admitted[int(rng.integers(len(admitted)))]
            cid = new_id()
            copy = near_copy(toks, cid)
            emit(rows, copy, cid)
            near.append((cid, src_id))
            fresh.append((cid, copy))
        for _ in range(n_new):
            toks = words_for(rng, next(lengths))
            cid = new_id()
            emit(rows, toks, cid)
            fresh.append((cid, toks))
        for _ in range(n_pairs):
            toks = words_for(rng, next(lengths))
            first, second = new_id(), new_id()
            emit(rows, toks, first)
            emit(rows, toks, second)
            fresh.append((first, toks))
            exact.append((second, first))
        admitted.extend(fresh)
        files.append(rows)
    for k, rows in enumerate(files):
        _write(os.path.join(out, "batch_%04d.parquet" % k), pa.table({
            "crawl_id": pa.array([r[0] for r in rows], pa.int64()),
            "html": [r[1] for r in rows]}))
    return {"exact": exact, "near": near, "files": len(files),
            "rows_per_file": [len(r) for r in files]}


def warehouse(seed, out):
    """lineitem and part in the shape TPC-H's data generator gives them
    (TPC-H specification, clause 4.2.3): orders of 1 to 7 lines, 30 line
    items per part and 600 per supplier, quantities 1 to 50, discounts 0 to
    0.10, taxes 0 to 0.08, ship dates from 1992-01-02 to 1998-12-01, 25
    brands Brand#MN, and the specification's retail-price formula."""
    rng = np.random.default_rng([seed, 3])
    n = SIZES["warehouse_lineitem"]
    parts, supps = n // 30, max(1, n // 600)
    lines = rng.integers(1, 8, size=n)
    counts = []
    total = 0
    while total < n:
        c = int(lines[len(counts) % n])
        counts.append(min(c, n - total))
        total += counts[-1]
    orderkey = np.repeat(np.arange(1, len(counts) + 1, dtype=np.int64) * 4, counts)
    linenumber = np.concatenate([np.arange(1, c + 1, dtype=np.int32) for c in counts])
    partkey = rng.integers(1, parts + 1, size=n).astype(np.int64)
    pk = np.arange(1, parts + 1)
    retail = (90000 + (pk // 10) % 20001 + 100 * (pk % 1000)) / 100.0
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * retail[partkey - 1], 2)
    days = (np.datetime64("1998-12-01") - np.datetime64("1992-01-02")).astype(int)
    ship = (np.datetime64("1992-01-02T00:00:00", "us")
            + rng.integers(0, days + 1, size=n).astype("timedelta64[D]"))
    _write(os.path.join(out, "lineitem.parquet"), pa.table({
        "l_orderkey": orderkey, "l_partkey": partkey,
        "l_suppkey": rng.integers(1, supps + 1, size=n).astype(np.int64),
        "l_linenumber": linenumber, "l_quantity": qty, "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, size=n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}))
    brands = np.array(["Brand#%d%d" % (m, k) for m in range(1, 6) for k in range(1, 6)])
    _write(os.path.join(out, "part.parquet"), pa.table({
        "p_partkey": pk.astype(np.int64),
        "p_name": pa.array(["part %d" % k for k in pk]),
        "p_brand": pa.array(brands[rng.integers(0, len(brands), size=parts)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rng.integers(0, 6, size=parts)]),
        "p_size": rng.integers(1, 51, size=parts).astype(np.int32),
        "p_retailprice": retail}))


def generate(workload, seed, raw, stream_batches):
    """Writes the inputs `workload` needs under `raw` and returns what the
    checks need to know about them."""
    info = {}
    if workload == "curation":
        curation(seed, os.path.join(raw, "curation"))
    elif workload == "warehouse":
        warehouse(seed, os.path.join(raw, "warehouse"))
    elif workload == "frontdoor_stream":
        info = frontdoor(seed, os.path.join(raw, "frontdoor"), stream_batches)
    with open(os.path.join(raw, workload + ".json"), "w") as f:
        json.dump(info, f)
    return info
