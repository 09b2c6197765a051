"""evaluate() parity with the reference's confusion-matrix SQL
(similarity_join/__init__.py:6-62), including its tp quirk (tp counts
all sj-present rows of the full-outer join)."""

from jaccard_join_duckdb_spark import evaluate
from jaccard_join_duckdb_spark.session import duckdb_connect


def _reference_evaluate(gt_rows, sj_rows):
    con = duckdb_connect()
    con.execute("create table gt (l_id integer, r_id integer)")
    con.execute("create table sj (l_id integer, r_id integer)")
    if gt_rows:
        con.executemany("insert into gt values (?,?)", gt_rows)
    if sj_rows:
        con.executemany("insert into sj values (?,?)", sj_rows)
    con.execute(
        "create view confusion_mtx as select gt.l_id gtk1, gt.r_id gtk2,"
        " sj.l_id sjk1, sj.r_id sjk2 from gt full outer join sj on"
        " (gt.l_id=sj.l_id and gt.r_id=sj.r_id) or"
        " (gt.l_id=sj.r_id and gt.r_id=sj.l_id)"
    )
    tp = con.execute(
        "select count(*) from confusion_mtx where sjk1 is not null and sjk2 is not null"
    ).fetchone()[0]
    fp = con.execute("select count(*) from confusion_mtx where gtk1 is null").fetchone()[0]
    fn = con.execute("select count(*) from confusion_mtx where sjk1 is null").fetchone()[0]
    pr = rc = fm = 0
    if tp > 0:
        pr = tp / (tp + fp)
        rc = tp / (tp + fn)
        fm = 2 * pr * rc / (pr + rc)
    return {"tp": tp, "fp": fp, "fn": fn, "pr": pr, "rc": rc, "fm": fm}


CASES = [
    # (gt, sj)
    ([(1, 2), (3, 4)], [(2, 1), (5, 6)]),      # orientation-insensitive match
    ([(1, 2), (3, 4)], [(1, 2), (3, 4)]),      # perfect
    ([(1, 2)], []),                             # zero tp -> all-zero metrics
    ([], [(1, 2)]),                             # gt empty
    ([(1, 2), (2, 3), (4, 5)], [(3, 2), (4, 5), (7, 8), (9, 1)]),
]


def test_evaluate_matches_reference(spark):
    for gt_rows, sj_rows in CASES:
        gt = spark.createDataFrame(gt_rows or [(None, None)], "l_id int, r_id int")
        if not gt_rows:
            gt = gt.filter("l_id is not null")
        sj = spark.createDataFrame(sj_rows or [(None, None)], "l_id int, r_id int")
        if not sj_rows:
            sj = sj.filter("l_id is not null")
        got = evaluate(gt, sj)
        want = _reference_evaluate(gt_rows, sj_rows)
        assert got == want, (gt_rows, sj_rows)


def test_zero_tp_all_zero_metrics(spark):
    """tp==0 (empty sj) must yield all-zero metrics, not NaN
    (SURVEY.md §4.3.9)."""
    gt = spark.createDataFrame([(1, 2)], "l_id int, r_id int")
    sj = spark.createDataFrame([(1, 2)], "l_id int, r_id int").filter("l_id > 99")
    got = evaluate(gt, sj)
    assert got == {"tp": 0, "fp": 0, "fn": 1, "pr": 0, "rc": 0, "fm": 0}
