"""The constraint catalogs of the two suite workloads, each check paired
with an independent DuckDB oracle for its expected outcome.

A check is one constraint added to a fresh requirement.  Its parameters --
thresholds and condition literals -- are drawn by the workload seed from
fixed catalogs; every catalog holds a passing and a failing choice, so the
seed also decides which checks fail.  The oracle recomputes the metric
from the same parquet files with DuckDB and applies the constraint's rule;
no oracle imports the program.  Catalog values sit far from the actual
metric, so the verdict does not hinge on how an engine rounds or orders
ties.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from datajudge_spark import Condition
from datajudge_spark.utils import filternull_element



@dataclass
class Check:
    name: str
    #: The requirement the check is added to (a table, or a table pair).
    source: str
    #: Label for per-kind layer figures ("scalar" checks run one aggregate).
    kind: str
    add: Callable[[object], None]
    expect: Callable[[object], bool]


def _one(con, sql: str, params=None):
    return con.execute(sql, params).fetchone()[0]


def _draw(rng, catalog):
    return catalog[int(rng.integers(len(catalog)))]


def _cond(sql: str | None) -> Condition | None:
    return None if sql is None else Condition(raw_string=sql)


def _where(sql: str | None) -> str:
    return "" if sql is None else f" WHERE {sql}"


# -- within_suite -----------------------------------------------------------

#: Oracle of the regex checks: non-NULL values the (anchored) pattern
#: rejects; DuckDB's RE2 and Java regex agree on these patterns.
_NOT_MATCHING = "SELECT count(*) FILTER (NOT regexp_matches({c}, ?)) FROM {t}"


def _scalar(name, table, column, rule, sql, catalog, rng, add):
    """A single-aggregate check: ``add(req, value)`` adds it, ``sql`` is
    the oracle's aggregate and ``rule(actual, value)`` the verdict."""
    value = _draw(rng, catalog)
    sql = sql.format(t=table, c=column)
    params = [value] if "?" in sql else None
    return Check(
        name, table, "scalar",
        lambda req: add(req, value),
        lambda con: rule(_one(con, sql, params), value),
    )


def within_checks(rng, rows: dict[str, int]) -> list[Check]:
    L, O, E = "lineitem", "orders", "events"
    checks = [
        _scalar("l_orderkey_not_null", L, "l_orderkey", lambda a, v: a == 0,
                "SELECT count(*) - count({c}) FROM {t}", [None], rng,
                lambda req, v: req.add_null_absence_constraint("l_orderkey")),
        _scalar("l_discount_null_frac", L, "l_discount", lambda a, v: a <= v,
                "SELECT 1 - count({c}) / count(*) FROM {t}", [0.05, 0.002], rng,
                lambda req, v: req.add_max_null_fraction_constraint("l_discount", v)),
        _scalar("l_quantity_min", L, "l_quantity", lambda a, v: a >= v,
                "SELECT min({c}) FROM {t}", [0, 1, 5], rng,
                lambda req, v: req.add_numeric_min_constraint("l_quantity", v)),
        _scalar("l_discount_max", L, "l_discount", lambda a, v: a <= v,
                "SELECT max({c}) FROM {t}", [0.12, 0.05], rng,
                lambda req, v: req.add_numeric_max_constraint("l_discount", v)),
        _scalar("l_tax_between", L, "l_tax", lambda a, v: a >= v,
                "SELECT count(*) FILTER ({c} BETWEEN 0 AND 0.06) / count({c}) "
                "FROM {t}", [0.5, 0.9], rng,
                lambda req, v: req.add_numeric_between_constraint("l_tax", 0, 0.06, v)),
        _scalar("l_quantity_mean", L, "l_quantity", lambda a, v: abs(a - v) <= 1.0,
                "SELECT avg({c}) FROM {t}", [25.5, 28.0], rng,
                lambda req, v: req.add_numeric_mean_constraint("l_quantity", v, 1.0)),
        _scalar("l_extendedprice_median", L, "l_extendedprice",
                lambda a, v: abs(a - v) <= 0.05 * v,
                "SELECT quantile_disc({c}, 0.5) FROM {t}", [53_000, 70_000], rng,
                lambda req, v: req.add_numeric_percentile_constraint(
                    "l_extendedprice", 50, v, max_relative_deviation=0.05)),
        _scalar("l_returnflag_regex", L, "l_returnflag", lambda a, v: a == 0,
                _NOT_MATCHING, ["^[ANR]$", "^[AN]$"], rng,
                lambda req, v: req.add_varchar_regex_constraint("l_returnflag", v)),
        _scalar("l_shipmode_max_len", L, "l_shipmode", lambda a, v: a <= v,
                "SELECT max(length({c})) FROM {t}", [8, 5], rng,
                lambda req, v: req.add_varchar_max_length_constraint("l_shipmode", v)),
        _scalar("l_comment_min_len", L, "l_comment", lambda a, v: a >= v,
                "SELECT min(length({c})) FROM {t}", [5, 20], rng,
                lambda req, v: req.add_varchar_min_length_constraint("l_comment", v)),
        _scalar("l_shipdate_min", L, "l_shipdate", lambda a, v: str(a) >= v,
                "SELECT CAST(min({c}) AS DATE) FROM {t}",
                ["1992-06-01", "1993-06-01"], rng,
                lambda req, v: req.add_date_min_constraint("l_shipdate", f"'{v}'")),
        _scalar("l_shipdate_max", L, "l_shipdate", lambda a, v: str(a) <= v,
                "SELECT CAST(max({c}) AS DATE) FROM {t}",
                ["1999-12-31", "1998-01-01"], rng,
                lambda req, v: req.add_date_max_constraint("l_shipdate", f"'{v}'")),
        _scalar("l_shipdate_between", L, "l_shipdate", lambda a, v: a >= v,
                "SELECT count(*) FILTER (CAST({c} AS DATE) BETWEEN '1994-01-01' "
                "AND '1998-12-31') / count({c}) FROM {t}", [0.5, 0.95], rng,
                lambda req, v: req.add_date_between_constraint(
                    "l_shipdate", "'1994-01-01'", "'1998-12-31'", v)),
        _scalar("o_totalprice_p90", O, "o_totalprice",
                lambda a, v: abs(a - v) <= 0.05 * v,
                "SELECT quantile_disc({c}, 0.9) FROM {t}", [360_000, 300_000], rng,
                lambda req, v: req.add_numeric_percentile_constraint(
                    "o_totalprice", 90, v, max_relative_deviation=0.05)),
        _scalar("o_clerk_regex", O, "o_clerk", lambda a, v: a == 0,
                _NOT_MATCHING, ["^Clerk#[0-9]{9}$", "^Clerk#0{6}[0-9]{2}$"], rng,
                lambda req, v: req.add_varchar_regex_constraint("o_clerk", v)),
        _scalar("o_orderdate_between", O, "o_orderdate", lambda a, v: a >= v,
                "SELECT count(*) FILTER (CAST({c} AS DATE) BETWEEN '1993-01-01' "
                "AND '1995-12-31') / count({c}) FROM {t}", [0.4, 0.7], rng,
                lambda req, v: req.add_date_between_constraint(
                    "o_orderdate", "'1993-01-01'", "'1995-12-31'", v)),
        _scalar("value_null_frac", E, "value", lambda a, v: a <= v,
                "SELECT 1 - count({c}) / count(*) FROM {t}", [0.3, 0.05], rng,
                lambda req, v: req.add_max_null_fraction_constraint("value", v)),
        _scalar("props_regex", E, "props", lambda a, v: a == 0,
                _NOT_MATCHING, ['^\\{"k": [0-9]+\\}$', '^\\{"k": [0-9]\\}$'], rng,
                lambda req, v: req.add_varchar_regex_constraint("props", v)),
    ]
    checks += _conditioned_within(rng, rows)
    checks += _keyed_within(rng)
    checks += _pipeline_within(rng, rows)
    return checks


def _conditioned_within(rng, rows) -> list[Check]:
    L, E = "lineitem", "events"
    q, frac = _draw(rng, [10, 25, 40]), _draw(rng, [0.1, 0.9])
    rflag_frac = _draw(rng, [0.5, 0.2])
    view_mean = _draw(rng, [20.0, 30.0])
    qty = f"l_quantity > {q}"
    return [
        Check("l_rows_min_qty", L, "scalar",
              lambda req: req.add_n_rows_min_constraint(
                  int(frac * rows[L]), condition=_cond(qty)),
              lambda con: _one(con, f"SELECT count(*) FROM {L} WHERE {qty}")
              >= int(frac * rows[L])),
        Check("l_rows_max_rflag", L, "scalar",
              lambda req: req.add_n_rows_max_constraint(
                  int(rflag_frac * rows[L]),
                  condition=_cond("l_returnflag = 'R'")),
              lambda con: _one(con, f"SELECT count(*) FROM {L} "
                                    "WHERE l_returnflag = 'R'")
              <= int(rflag_frac * rows[L])),
        Check("value_mean_view", E, "scalar",
              lambda req: req.add_numeric_mean_constraint(
                  "value", view_mean, 1.5,
                  condition=_cond("event_type = 'view'")),
              lambda con: abs(_one(con, f"SELECT avg(value) FROM {E} "
                                        "WHERE event_type = 'view'")
                              - view_mean) <= 1.5),
    ]


def _keyed_within(rng) -> list[Check]:
    L, O, E = "lineitem", "orders", "events"
    dup_slack = _draw(rng, [0.7, 0.3])
    fd_value = _draw(rng, ["l_linestatus", "l_returnflag"])
    superset = _draw(rng, [["A", "N", "R"], ["A", "N", "R", "X"]])
    equal = _draw(rng, [["O", "F"], ["O", "F", "P"]])
    n_modes = _draw(rng, [7, 6])

    def unique(table, cols):
        return (f"SELECT count(*) = (SELECT count(*) FROM (SELECT DISTINCT "
                f"{', '.join(cols)} FROM {table})) FROM {table}")

    def distinct(table, col):
        return lambda con: {r[0] for r in con.execute(
            f"SELECT DISTINCT {col} FROM {table} WHERE {col} IS NOT NULL"
        ).fetchall()}

    return [
        Check("l_key_unique", L, "uniqueness",
              lambda req: req.add_uniqueness_constraint(
                  ["l_orderkey", "l_linenumber"]),
              lambda con: _one(con, unique(L, ["l_orderkey", "l_linenumber"]))),
        Check("l_partkey_dup_frac", L, "uniqueness",
              lambda req: req.add_uniqueness_constraint(
                  ["l_partkey"], max_duplicate_fraction=dup_slack),
              lambda con: _one(con, f"SELECT count(DISTINCT l_partkey) FROM {L}")
              >= _one(con, f"SELECT count(*) FROM {L}") * (1 - dup_slack)),
        Check("o_key_unique", O, "uniqueness",
              lambda req: req.add_uniqueness_constraint(["o_orderkey"]),
              lambda con: _one(con, unique(O, ["o_orderkey"]))),
        Check("event_id_unique", E, "uniqueness",
              lambda req: req.add_uniqueness_constraint(["event_id"]),
              lambda con: _one(con, unique(E, ["event_id"]))),
        Check("l_orderkey_determines", L, "dependency",
              lambda req: req.add_functional_dependency_constraint(
                  ["l_orderkey"], [fd_value]),
              lambda con: _one(con, f"SELECT count(*) FROM (SELECT l_orderkey "
                                    f"FROM {L} GROUP BY 1 HAVING "
                                    f"count(DISTINCT {fd_value}) > 1)") == 0),
        Check("l_returnflag_superset", L, "uniques",
              lambda req: req.add_uniques_superset_constraint(
                  ["l_returnflag"], superset, filter_func=filternull_element),
              lambda con: set(superset) <= distinct(L, "l_returnflag")(con)),
        Check("l_linestatus_equal", L, "uniques",
              lambda req: req.add_uniques_equality_constraint(
                  ["l_linestatus"], equal, filter_func=filternull_element),
              lambda con: set(equal) == distinct(L, "l_linestatus")(con)),
        Check("l_shipmode_n_uniques", L, "uniques",
              lambda req: req.add_n_uniques_equality_constraint(
                  ["l_shipmode"], n_modes),
              lambda con: _one(con, f"SELECT count(DISTINCT l_shipmode) FROM {L}")
              == n_modes),
    ]


def _pipeline_within(rng, rows) -> list[Check]:
    D, M = "documents", "embeddings"
    query_ids = sorted(int(i) for i in rng.choice(rows[D], 12, replace=False))
    min_recall = _draw(rng, [0.9, 1.0])
    norm_frac = _draw(rng, [0.9, 0.99])
    return [
        Check("doc_neardup_recall", D, "pipeline",
              lambda req: req.add_neardup_recall_constraint(
                  "doc_id", "text", query_ids, min_recall=min_recall),
              lambda con: _neardup_recall(con, query_ids) >= min_recall),
        Check("embedding_norm_frac", M, "pipeline",
              lambda req: req.add_embedding_norm_fraction_constraint(
                  "embedding", norm_frac),
              lambda con: _one(con, f"SELECT count(*) FILTER (n BETWEEN 0.99 "
                                    f"AND 1.01) / count(*) FROM (SELECT sqrt("
                                    f"list_sum(list_transform(embedding, "
                                    f"x -> x::DOUBLE * x))) AS n FROM {M})")
              >= norm_frac),
    ]


def _shingles(n: int, where: str = "") -> str:
    """Distinct (doc_id, n-word shingle) rows of the documents."""
    return (
        "SELECT DISTINCT doc_id, array_to_string(tk[i:i + {m}], ' ') AS s "
        "FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - {m} + 1)) AS i "
        "FROM (SELECT doc_id, string_split(trim(text), ' ') AS tk "
        "FROM documents{w}))"
    ).format(m=n - 1, w=where)


def _neardup_recall(con, query_ids) -> float:
    """Recall of the near-duplicate lookup over ``query_ids``.  The
    corpus plants only verbatim copies, whose MinHash signatures are
    identical, so every true pair (Jaccard >= 0.5) is found: recall is 1
    whenever all true pairs are copies, and the oracle refuses to guess
    otherwise."""
    ids = ", ".join(map(str, query_ids))
    sh = _shingles(3)
    jaccards = [r[0] for r in con.execute(
        f"WITH sh AS ({sh}), q AS (SELECT * FROM sh WHERE doc_id IN ({ids})), "
        "n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1), "
        "i AS (SELECT q.doc_id AS a, sh.doc_id AS b, count(*) AS c FROM q "
        "JOIN sh ON q.s = sh.s AND q.doc_id <> sh.doc_id GROUP BY 1, 2) "
        "SELECT i.c / (na.c + nb.c - i.c) FROM i JOIN n na ON na.doc_id = i.a "
        "JOIN n nb ON nb.doc_id = i.b"
    ).fetchall() if r[0] >= 0.5]
    if any(j < 1.0 for j in jaccards):
        raise ValueError("inputs hold a near-duplicate that is not a copy")
    return 1.0


# -- between_suite ----------------------------------------------------------

#: The high-cardinality foreign-key subset check.  KNOWN DEFECT of the
#: program: the subset test scans a Python list per factual value, so its
#: driver-side compare is quadratic in the number of distinct keys and
#: dwarfs the Spark work.  Kept at full size on purpose.
UNIQUES_SUBSET = "l_orderkey_in_orders_next"


def between_checks(rng, rows: dict[str, int]) -> list[Check]:
    LN, ON, EE, DD = ("lineitem|orders_next", "orders|orders_next",
                      "events|events", "documents|documents")
    fk_slack = _draw(rng, [0.0, 0.05])
    status_cond = _draw(rng, [None, "o_orderkey > 40000"])
    loss_tol = _draw(rng, [0.5, 0.1])
    gain_tol = _draw(rng, [0.05, 0.002])
    eq_tol = _draw(rng, [0.1, 0.005])
    match_tol = _draw(rng, [0.05, 0.001])
    ks_level = _draw(rng, [0.01, 0.001])
    mean_dev = _draw(rng, [5_000.0, 10.0])
    contam = _draw(rng, [0.6, 0.05])
    sample_tol = _draw(rng, [0.9, 0.5])
    early = "o_orderdate < '1995-01-01'"
    train, held_out = "doc_id % 5 <> 0", "doc_id % 5 = 0"

    def rows_of(con, table):
        return _one(con, f"SELECT count(*) FROM {table}")

    def n_distinct(con, table, col, where=None):
        return _one(con, f"SELECT count(DISTINCT {col}) FROM {table}{_where(where)}")

    return _light_between(rng) + [
        Check(UNIQUES_SUBSET, LN, "uniques_subset",
              lambda req: req.add_uniques_subset_constraint(
                  ["l_orderkey"], ["o_orderkey"], max_relative_violations=fk_slack,
                  filter_func=filternull_element),
              lambda con: _one(con, "SELECT count(*) FILTER (l_orderkey NOT IN "
                                    "(SELECT o_orderkey FROM orders_next)) "
                                    "/ count(*) FROM lineitem") <= fk_slack),
        Check("orderstatus_equal", ON, "uniques",
              lambda req: req.add_uniques_equality_constraint(
                  ["o_orderstatus"], ["o_orderstatus"],
                  condition2=_cond(status_cond), filter_func=filternull_element),
              lambda con: {r[0] for r in con.execute(
                  "SELECT DISTINCT o_orderstatus FROM orders").fetchall()}
              == {r[0] for r in con.execute(
                  "SELECT DISTINCT o_orderstatus FROM orders_next"
                  + _where(status_cond)).fetchall()}),
        Check("orderstatus_n_uniques_loss", "orders_next|orders", "n_uniques",
              lambda req: req.add_n_uniques_max_loss_constraint(
                  ["o_orderstatus"], ["o_orderstatus"],
                  constant_max_relative_loss=loss_tol,
                  condition1=_cond("o_orderstatus <> 'P'")),
              lambda con: _relative_change(
                  n_distinct(con, "orders_next", "o_orderstatus",
                             "o_orderstatus <> 'P'"),
                  n_distinct(con, "orders", "o_orderstatus")) >= -loss_tol),
        Check("orders_rows_gain", "orders_next|orders", "n_rows",
              lambda req: req.add_n_rows_max_gain_constraint(
                  constant_max_relative_gain=gain_tol),
              lambda con: _relative_change(rows_of(con, "orders_next"),
                                           rows_of(con, "orders")) <= gain_tol),
        Check("early_orders_equal", ON, "rows",
              lambda req: req.add_row_equality_constraint(
                  ["o_orderkey", "o_totalprice"], ["o_orderkey", "o_totalprice"],
                  eq_tol, condition1=_cond(early), condition2=_cond(early)),
              lambda con: _row_difference(con, early) <= eq_tol),
        Check("final_orders_match", ON, "rows",
              lambda req: req.add_row_matching_equality_constraint(
                  ["o_orderkey"], ["o_orderkey"], ["o_totalprice"],
                  ["o_totalprice"], match_tol,
                  condition1=_cond("o_orderstatus = 'F'"),
                  condition2=_cond("o_orderstatus = 'F'")),
              lambda con: _one(con, "SELECT count(*) FILTER (a.o_totalprice "
                                    "<> b.o_totalprice) / count(*) FROM orders a "
                                    "JOIN orders_next b USING (o_orderkey) WHERE "
                                    "a.o_orderstatus = 'F' AND b.o_orderstatus "
                                    "= 'F'") <= match_tol),
        Check("purchase_vs_view_ks", EE, "stats",
              lambda req: req.add_ks_2sample_constraint(
                  "value", "value",
                  condition1=_cond("event_type = 'purchase'"),
                  condition2=_cond("event_type = 'view'"),
                  significance_level=ks_level),
              lambda con: _ks_accepts(con, "events", "value",
                                      "event_type = 'purchase'",
                                      "event_type = 'view'", ks_level)),
        Check("totalprice_mean", ON, "scalar",
              lambda req: req.add_numeric_mean_constraint(
                  "o_totalprice", "o_totalprice", mean_dev),
              lambda con: abs(_one(con, "SELECT avg(o_totalprice) FROM orders")
                              - _one(con, "SELECT avg(o_totalprice) FROM "
                                          "orders_next")) <= mean_dev),
        Check("sample_rows_loss", "orders_sample|orders", "pipeline",
              lambda req: req.add_n_rows_max_loss_constraint(
                  constant_max_relative_loss=sample_tol),
              lambda con: -_relative_change(
                  _one(con, f"SELECT count(*) FROM orders WHERE {_BUCKET} "
                            f"< {SAMPLE_RATE}"),
                  rows_of(con, "orders")) <= sample_tol),
        Check("eval_contamination", DD, "pipeline",
              lambda req: req.add_winnowing_contamination_constraint(
                  "doc_id", "text", "doc_id", "text", contam,
                  condition1=_cond(train), condition2=_cond(held_out)),
              lambda con: _contamination(con, train, held_out) <= contam),
    ]


#: Percent of orders kept by the deterministic sample the sampling check
#: compares with the full table, and the oracle's copy of its bucket hash
#: (the first 60 bits of md5 of the key's decimal text, modulo 100).
SAMPLE_RATE = 20
_BUCKET = ("CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) "
           "AS UBIGINT) % 100")


def requirement(spark, source: str, paths: dict[str, str]):
    """A fresh, empty requirement over ``source``: one table name, or two
    joined by ``|``.  ``orders_sample`` is a deterministic sample of
    orders built with the pipeline's sampling stage."""
    from datajudge_spark import BetweenRequirement, WithinRequirement
    from datajudge_spark.pipeline.sampling import deterministic_sample

    if "|" not in source:
        return WithinRequirement.from_parquet(paths[source], name=source)
    first, second = source.split("|")
    if first == "orders_sample":
        orders = spark.read.parquet(paths["orders"])
        return BetweenRequirement.from_expressions(
            deterministic_sample(orders, "o_orderkey", SAMPLE_RATE),
            spark.read.parquet(paths["orders"]), first, second,
        )
    return BetweenRequirement.from_parquets(
        paths[first], paths[second], name1=first, name2=second
    )


def _light_between(rng) -> list[Check]:
    """Cheap two-table checks -- schema, extrema, counts -- that make up
    most of a real between-table gate."""
    NO, ON, LL = "orders_next|orders", "orders|orders_next", "lineitem|lineitem"
    priority_cond = _draw(rng, [None, "o_orderpriority <> '5-LOW'"])
    superset_cond = _draw(rng, [None, "o_orderstatus <> 'P'"])
    key_gain = _draw(rng, [0.05, 0.002])
    null_dev = _draw(rng, [0.0, 1.0])
    late_loss = _draw(rng, [0.8, 0.3])
    late = "l_shipdate >= '1996-01-01'"

    def pair(name, source, rule, sql1, sql2, add, kind="scalar"):
        return Check(name, source, kind, add,
                     lambda con: rule(_one(con, sql1), _one(con, sql2)))

    def columns(con, table):
        return {r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM {table}").fetchall()}

    def column_type(con, table, column):
        return _one(con, f"SELECT typeof({column}) FROM {table} LIMIT 1")

    return [
        Check("orders_columns_subset", ON, "schema",
              lambda req: req.add_column_subset_constraint(),
              lambda con: columns(con, "orders") <= columns(con, "orders_next")),
        Check("lineitem_columns_superset", "lineitem|orders_next", "schema",
              lambda req: req.add_column_superset_constraint(),
              lambda con: columns(con, "lineitem") >= columns(con, "orders_next")),
        Check("totalprice_type", ON, "schema",
              lambda req: req.add_column_type_constraint(
                  "o_totalprice", "o_totalprice"),
              lambda con: column_type(con, "orders", "o_totalprice")
              == column_type(con, "orders_next", "o_totalprice")),
        pair("orders_rows_equal", ON, lambda a, b: a == b,
             "SELECT count(*) FROM orders", "SELECT count(*) FROM orders_next",
             lambda req: req.add_n_rows_equality_constraint(), "n_rows"),
        pair("priority_n_uniques_equal", ON, lambda a, b: a == b,
             "SELECT count(DISTINCT o_orderpriority) FROM orders",
             "SELECT count(DISTINCT o_orderpriority) FROM orders_next"
             + _where(priority_cond),
             lambda req: req.add_n_uniques_equality_constraint(
                 ["o_orderpriority"], ["o_orderpriority"],
                 condition2=_cond(priority_cond)), "n_uniques"),
        pair("orderkey_n_uniques_gain", NO,
             lambda a, b: _relative_change(a, b) <= key_gain,
             "SELECT count(DISTINCT o_orderkey) FROM orders_next",
             "SELECT count(DISTINCT o_orderkey) FROM orders",
             lambda req: req.add_n_uniques_max_gain_constraint(
                 ["o_orderkey"], ["o_orderkey"],
                 constant_max_relative_gain=key_gain), "n_uniques"),
        pair("totalprice_min", NO, lambda a, b: a >= b,
             "SELECT min(o_totalprice) FROM orders_next",
             "SELECT min(o_totalprice) FROM orders",
             lambda req: req.add_numeric_min_constraint(
                 "o_totalprice", "o_totalprice")),
        pair("totalprice_max", NO, lambda a, b: a <= b,
             "SELECT max(o_totalprice) FROM orders_next",
             "SELECT max(o_totalprice) FROM orders",
             lambda req: req.add_numeric_max_constraint(
                 "o_totalprice", "o_totalprice")),
        pair("orderdate_min", NO, lambda a, b: a >= b,
             "SELECT CAST(min(o_orderdate) AS DATE) FROM orders_next",
             "SELECT CAST(min(o_orderdate) AS DATE) FROM orders",
             lambda req: req.add_date_min_constraint(
                 "o_orderdate", "o_orderdate")),
        pair("orderdate_max", NO, lambda a, b: a <= b,
             "SELECT CAST(max(o_orderdate) AS DATE) FROM orders_next",
             "SELECT CAST(max(o_orderdate) AS DATE) FROM orders",
             lambda req: req.add_date_max_constraint(
                 "o_orderdate", "o_orderdate")),
        pair("clerk_max_length", NO, lambda a, b: a <= b,
             "SELECT max(length(o_clerk)) FROM orders_next",
             "SELECT max(length(o_clerk)) FROM orders",
             lambda req: req.add_varchar_max_length_constraint(
                 "o_clerk", "o_clerk")),
        pair("discount_null_frac", LL, lambda a, b: a <= b * (1 + null_dev),
             "SELECT 1 - count(l_discount) / count(*) FROM lineitem "
             "WHERE l_returnflag = 'A'",
             "SELECT 1 - count(l_discount) / count(*) FROM lineitem "
             "WHERE l_returnflag = 'N'",
             lambda req: req.add_max_null_fraction_constraint(
                 "l_discount", "l_discount", null_dev,
                 condition1=_cond("l_returnflag = 'A'"),
                 condition2=_cond("l_returnflag = 'N'"))),
        pair("late_lines_loss", LL, lambda a, b: -_relative_change(a, b) <= late_loss,
             f"SELECT count(*) FROM lineitem WHERE {late}",
             "SELECT count(*) FROM lineitem",
             lambda req: req.add_n_rows_max_loss_constraint(
                 constant_max_relative_loss=late_loss,
                 condition1=_cond(late)), "n_rows"),
        Check("orderstatus_superset", NO, "uniques",
              lambda req: req.add_uniques_superset_constraint(
                  ["o_orderstatus"], ["o_orderstatus"],
                  condition1=_cond(superset_cond), filter_func=filternull_element),
              lambda con: {r[0] for r in con.execute(
                  "SELECT DISTINCT o_orderstatus FROM orders_next"
                  + _where(superset_cond)).fetchall()}
              >= {r[0] for r in con.execute(
                  "SELECT DISTINCT o_orderstatus FROM orders").fetchall()}),
        Check("priority_subset", NO, "uniques",
              lambda req: req.add_uniques_subset_constraint(
                  ["o_orderpriority"], ["o_orderpriority"],
                  filter_func=filternull_element),
              lambda con: _one(con, "SELECT count(*) FILTER (o_orderpriority "
                                    "NOT IN (SELECT o_orderpriority FROM orders)) "
                                    "FROM orders_next") == 0),
    ]


def _relative_change(new: int, old: int) -> float:
    return (new - old) / old


def _row_difference(con, where: str) -> float:
    """Symmetric difference over the distinct union of (key, price)."""
    a = f"SELECT DISTINCT o_orderkey, o_totalprice FROM orders WHERE {where}"
    b = f"SELECT DISTINCT o_orderkey, o_totalprice FROM orders_next WHERE {where}"
    diff = _one(con, f"SELECT count(*) FROM (({a}) EXCEPT ({b}))") + _one(
        con, f"SELECT count(*) FROM (({b}) EXCEPT ({a}))")
    return diff / _one(con, f"SELECT count(*) FROM (({a}) UNION ({b}))")


def _ks_accepts(con, table, col, where1, where2, level) -> bool:
    """Two-sample KS: exact d over both empirical CDFs, accepted when d
    stays under the asymptotic critical value c(alpha) * sqrt((n+m)/nm)."""
    n = _one(con, f"SELECT count(*) FROM {table} WHERE {where1}")
    m = _one(con, f"SELECT count(*) FROM {table} WHERE {where2}")
    d = _one(con, (
        f"WITH u AS (SELECT {col} AS v, count(*) FILTER ({where1}) AS c1, "
        f"count(*) FILTER ({where2}) AS c2 FROM {table} WHERE ({where1}) "
        f"OR ({where2}) GROUP BY 1), cdf AS (SELECT sum(c1) OVER w / {n} AS f1, "
        f"sum(c2) OVER w / {m} AS f2 FROM u WINDOW w AS (ORDER BY v)) "
        "SELECT max(abs(f1 - f2)) FROM cdf"
    ))
    c = math.sqrt(-math.log(level / 2.0 + 1e-10) * 0.5)
    return d <= c * math.sqrt((n + m) / (n * m))


def _contamination(con, train: str, held_out: str) -> float:
    """Share of held-out documents that share a 4-word passage with the
    training documents.  Unrelated documents share none, and copies share
    all of them, so this equals the winnowing verdict on these inputs."""
    ev = _shingles(4, f" WHERE {held_out}")
    tr = _shingles(4, f" WHERE {train}")
    hit = _one(con, f"SELECT count(DISTINCT e.doc_id) FROM ({ev}) e "
                    f"JOIN ({tr}) t ON e.s = t.s")
    return hit / _one(con, f"SELECT count(*) FROM documents WHERE {held_out}")
