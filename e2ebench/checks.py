"""Correctness checks, run after the timed passes.

Each check compares one output of the program with a computation made
apart from it: a DuckDB replay of the registry's oracle SQL over the files
the run staged, the duplicates the seeded generator planted, or a property
the output must have. Each check is one operation; it returns
(name, ok, detail).
"""
import glob
import json
import os

import duckdb


def _connect(work):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET temp_directory = '%s'" % os.path.join(work, "duckdb-tmp"))
    return con


def _pq(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError("no parquet files under " + path)
    return "read_parquet([%s])" % ", ".join("'%s'" % f for f in files)


def same_rows(con, name, program_sql, oracle_sql):
    """Multiset equality of two queries' rows, with their row counts."""
    q = con.execute(
        "SELECT (SELECT count(*) FROM ({a})), (SELECT count(*) FROM ({b})), "
        "(SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))), "
        "(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))".format(
            a=program_sql, b=oracle_sql)).fetchone()
    ok = q[2] == 0 and q[3] == 0 and q[0] == q[1]
    return (name, ok, "program %d rows, replay %d rows, %d/%d differ" % q)


def curation(con, check_dir, stage_dir, oracle, traced=False):
    """The chain replayed stage by stage in DuckDB from the staged pages;
    each stage's program output is compared with the replay's."""
    res = []
    con.execute("CREATE VIEW pages AS SELECT * FROM " + _pq(stage_dir + "/pages.parquet"))
    con.execute("CREATE VIEW eval AS SELECT doc_id, text FROM " + _pq(stage_dir + "/eval.parquet"))
    con.execute("CREATE TABLE d_text AS SELECT doc_id, replace(%s, chr(10), ' ') AS text "
                "FROM pages" % oracle["main_text"])
    res.append(same_rows(con, "curation.text", "SELECT doc_id, main_md5 FROM " + _pq(check_dir + "/text"),
                         "SELECT doc_id, md5(text) FROM d_text"))

    def documents(sql):
        con.execute("CREATE OR REPLACE VIEW documents AS " + sql)

    documents("SELECT doc_id, text FROM d_text")
    con.execute("CREATE TABLE d_gated AS SELECT doc_id, text FROM d_text WHERE doc_id IN "
                "(SELECT doc_id FROM (%s))" % oracle["corpus_keep"])
    res.append(same_rows(con, "curation.gate", "SELECT doc_id FROM " + _pq(check_dir + "/gate"),
                         "SELECT doc_id FROM d_gated"))
    documents("SELECT doc_id, text FROM d_gated")
    con.execute("CREATE TABLE d_exact AS " + oracle["q_dedup_exact"])
    res.append(same_rows(con, "curation.exact",
                         "SELECT text_hash, doc_id, dup_cnt FROM " + _pq(check_dir + "/exact"),
                         "SELECT text_hash, doc_id, dup_cnt FROM d_exact"))
    con.execute("CREATE TABLE d_surv AS SELECT doc_id, text FROM d_gated "
                "WHERE doc_id IN (SELECT doc_id FROM d_exact)")
    documents("SELECT doc_id, text FROM d_surv")
    con.execute("CREATE TABLE d_ver AS " + oracle["q_dedup_verified"])
    res.append(same_rows(con, "curation.verified",
                         "SELECT doc_id, keep FROM " + _pq(check_dir + "/verified"),
                         "SELECT doc_id, keep FROM d_ver"))
    con.execute("CREATE TABLE d_kept AS SELECT doc_id, text FROM d_surv "
                "WHERE doc_id IN (SELECT doc_id FROM d_ver WHERE keep)")
    documents("SELECT doc_id, text FROM d_kept UNION ALL SELECT doc_id, text FROM eval")
    con.execute("CREATE TABLE d_dec AS " + oracle["q_decontam_fuzzy"])
    res.append(same_rows(con, "curation.decontam",
                         "SELECT train_id, eval_id, jaccard, n_matches FROM " + _pq(check_dir + "/decontam"),
                         "SELECT train_id, eval_id, jaccard, n_matches FROM d_dec"))
    documents("SELECT doc_id, text FROM d_kept WHERE doc_id NOT IN (SELECT train_id FROM d_dec)")
    res.append(same_rows(con, "curation.token_blocks",
                         "SELECT block_id, doc_id, off_in_block, len FROM " + _pq(check_dir + "/out"),
                         oracle["q_token_blocks"]))
    if traced:
        # the traced chain calls the layers one by one; its end product
        # must be the same token blocks
        res.append(same_rows(con, "curation.traced_token_blocks",
                             "SELECT block_id, doc_id, off_in_block, len FROM " + _pq(check_dir + "/traced"),
                             oracle["q_token_blocks"]))
    return res


def _committed(root):
    vs = [int(n.split("=")[1]) for n in os.listdir(root) if n.startswith("_committed_v=")]
    return os.path.join(root, "v=%d" % max(vs))


def file_order(con, name, path):
    """The rows of the table at `path`, read file by file in part-file
    name order, are in ascending `rank`."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    n, back = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE rank < prev) FROM ("
        "SELECT rank, lag(rank) OVER (ORDER BY list_position(?, filename), file_row_number) AS prev "
        "FROM read_parquet(?, filename = true, file_row_number = true, hive_partitioning = false))",
        [files, files]).fetchone()
    return (name, n > 0 and back == 0, "%d rows in %d files, %d after a higher rank" % (n, len(files), back))


def versioned_table(con, name, root):
    """The published version 1 and the compacted head of a versioned
    q_sort_total table: the head against the oracle SQL (with ranks) and
    against the staged lineitem rows, counting duplicates; the published
    version in rank order file by file. Compaction coalesces files and
    does not keep their order, so the head's file order is not checked."""
    head = _committed(root)
    return [
        same_rows(con, name + ".sort_total",
                  "SELECT l_orderkey, l_linenumber, ship, rank FROM " + _pq(head),
                  "SELECT l_orderkey, l_linenumber, ship, rank FROM o_sort_total"),
        same_rows(con, name + ".rows_kept",
                  "SELECT l_orderkey, l_linenumber, ship FROM " + _pq(head),
                  "SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') FROM lineitem"),
        file_order(con, name + ".published_file_order", os.path.join(root, "v=1")),
    ]


def warehouse(con, check_dir, stage_dir, oracle, traced=False):
    res = []
    for t in ("lineitem", "part"):
        con.execute("CREATE VIEW %s AS SELECT * FROM %s" % (t, _pq("%s/%s.parquet" % (stage_dir, t))))
    con.execute("CREATE TABLE o_sort_total AS " + oracle["q_sort_total"])
    res.append(same_rows(con, "warehouse.monster",
                         "SELECT p_brand, revenue_cents, nparts FROM " + _pq(check_dir + "/monster"),
                         "SELECT p_brand, revenue_cents, nparts FROM (%s)" % oracle["q_monster"]))
    res += versioned_table(con, "warehouse", check_dir + "/out")
    if traced:
        res += versioned_table(con, "warehouse.traced", check_dir + "/traced")
    return res


def frontdoor(con, sink_dir, raw_dir, oracle, planted, threshold=0.8):
    """Exact hits must be exactly the planted exact re-crawls against their
    canonical ids; every near hit must re-verify at or above the threshold
    (and at the reported Jaccard) over DuckDB's own main-text extraction."""
    res = []
    con.execute("CREATE VIEW hits AS SELECT DISTINCT new_id, dup_id, jaccard, exact FROM " + _pq(sink_dir))
    got = set(map(tuple, con.execute("SELECT new_id, dup_id FROM hits WHERE exact").fetchall()))
    want = set(map(tuple, planted["exact"]))
    res.append(("frontdoor.exact_planted", got == want,
                "%d exact hits, %d planted, %d missing, %d unplanted"
                % (len(got), len(want), len(want - got), len(got - want))))
    files = sorted(glob.glob(os.path.join(raw_dir, "*.parquet")))
    con.execute("CREATE TABLE sh AS SELECT crawl_id, list_distinct(list_transform("
                "range(greatest(len(tk) - 2, 1)), i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS s "
                "FROM (SELECT crawl_id, list_filter(string_split(replace(%s, chr(10), ' '), ' '), "
                "x -> len(x) > 0) AS tk FROM read_parquet(?))" % oracle["main_text"], [files])
    n, low, off = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE j < ? - 1e-9), "
        "count(*) FILTER (WHERE abs(j - jaccard) > 1e-6) FROM ("
        "SELECT h.jaccard, len(list_intersect(a.s, b.s)) / "
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS j "
        "FROM hits h JOIN sh a ON a.crawl_id = h.new_id JOIN sh b ON b.crawl_id = h.dup_id "
        "WHERE NOT h.exact)", [threshold]).fetchone()
    res.append(("frontdoor.near_verified", n > 0 and low == 0 and off == 0,
                "%d near hits, %d below threshold, %d off the reported jaccard" % (n, low, off)))
    return res


def run(result, work, raw, traced=False):
    """Every check of every workload whose outputs the run kept."""
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    res = []
    for workload, check_dir in result["check_dirs"].items():
        con = _connect(work)
        if workload == "curation":
            res += curation(con, check_dir, work + "/stage/curation", oracle, traced)
        elif workload == "warehouse":
            res += warehouse(con, check_dir, work + "/stage/warehouse", oracle, traced)
        else:
            with open(os.path.join(raw, "frontdoor_stream.json")) as f:
                planted = json.load(f)
            res += frontdoor(con, check_dir, raw + "/frontdoor", oracle, planted)
        con.close()
    return res
