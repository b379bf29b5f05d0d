"""Aligned-join routing for plain SQL over EngineGroup views (round-4
verdict item 1): an ordinary `group.sql("... a JOIN b ON a.k = b.k ...")`
between co-located tables must plan shuffle-free (zero Exchange
hashpartitioning from the join) and return exactly what the naive
shuffled plan returns; queries outside the routable envelope fall back
to the naive plan, and `aligned="require"` surfaces the refusal reason
instead of shipping a shuffled plan silently."""

import threading
from collections import Counter

import pytest
from pyspark.sql.utils import AnalysisException

from data_migration_service_spark.api import EngineGroup
from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.fixtures.cdc import gen_changes
from data_migration_service_spark.operators.merge import cdc_apply, compact
from data_migration_service_spark.tables.derived import DerivedTable
from tests.test_colocated import CHUNK_SQL
from tests.test_merge import make_table


@pytest.fixture(scope="module")
def group(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("sqlroute")
    t = make_table(spark, tmp_path, n_buckets=8)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=8,
                       merge_mode="mor", compact_threshold=100)
    ch = gen_changes(spark, 1500, n_repos=8, n_paths_per_repo=12).cache()
    cdc_apply(t, ch, cfg, epoch=0)
    compact(t, cfg)
    d = DerivedTable.create(spark, str(tmp_path / "chunks"), t, CHUNK_SQL)
    d.sync(t)
    d.compact()
    # one row per live doc (empty docs too, which chunks lacks), with a
    # column that differs from the source's `lang` only in case
    g = DerivedTable.create(spark, str(tmp_path / "langs"), t, LANG_SQL)
    g.sync(t)
    g.compact()
    return EngineGroup(spark, {
        "repos": cfg,
        "chunks": EngineConfig(table_path=str(tmp_path / "chunks"),
                               merge_mode="mor"),
        "langs": EngineConfig(table_path=str(tmp_path / "langs"),
                              merge_mode="mor"),
    })


LANG_SQL = """
SELECT repo, path, lsn, CAST(0 AS BIGINT) AS seq,
       concat(upper(coalesce(lang, '')), '!') AS Lang
FROM __source__
"""

JOIN_SQL = ("SELECT a.repo, a.path, a.content, b.chunk_text "
            "FROM repos a JOIN chunks b "
            "ON a.repo = b.repo AND a.path = b.path")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _same_rows(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    a, b = a.select(*cols), b.select(*cols)
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.fixture()
def no_auto_broadcast(spark):
    """Rule out Catalyst broadcasting the tiny test tables on its own —
    the routed plan must be shuffle-free by construction (size-gated
    per-bucket broadcast hints), not by the 10MB auto threshold."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_plain_sql_join_routes_shuffle_free(group, no_auto_broadcast):
    routed = group.sql(JOIN_SQL)
    naive = group.sql(JOIN_SQL, aligned="off")
    rplan, nplan = _plan(routed), _plan(naive)
    assert "Exchange hashpartitioning" not in rplan, rplan[:4000]
    assert "Exchange hashpartitioning" in nplan  # the gap being closed
    _same_rows(routed, naive)


def test_collision_columns_rewritten(group):
    """Both tables carry `lsn`; qualified refs must survive the `_rK`
    collision rename (a.lsn -> lsn, b.lsn -> lsn_r1)."""
    q = ("SELECT a.repo, a.path, a.lsn AS src_lsn, b.lsn AS chunk_lsn "
         "FROM repos a JOIN chunks b ON a.repo = b.repo AND a.path = b.path")
    _same_rows(group.sql(q), group.sql(q, aligned="off"))


def test_aggregate_over_routed_join(group, no_auto_broadcast):
    q = ("SELECT a.repo, count(1) AS n_chunks, "
         "sum(length(b.chunk_text)) AS n_chars "
         "FROM repos a JOIN chunks b ON a.repo = b.repo AND a.path = b.path "
         "WHERE b.seq >= 0 GROUP BY a.repo HAVING count(1) > 0 "
         "ORDER BY a.repo LIMIT 100")
    routed = group.sql(q)
    plan = _plan(routed)
    # the aggregate pays its own exchange; the JOIN must not add any
    assert "SortMergeJoin" not in plan, plan[:4000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:4000]
    _same_rows(routed, group.sql(q, aligned="off"))


def test_unqualified_unique_columns_route(group):
    """Bare references that only one table can own resolve through the
    rename map (content lives only on repos, chunk_text only on chunks);
    join keys must stay qualified, exactly as plain Spark SQL demands."""
    q = ("SELECT a.repo, a.path, content, chunk_text "
         "FROM repos a JOIN chunks b ON a.repo = b.repo AND a.path = b.path")
    _same_rows(group.sql(q), group.sql(q, aligned="off"))


def test_ambiguous_bare_reference_falls_back_to_naive_error(group):
    """`lsn` exists on both sides: routing refuses (it will not guess),
    and the naive plan raises the ambiguity the SQL deserves."""
    q = ("SELECT lsn FROM repos a JOIN chunks b "
         "ON a.repo = b.repo AND a.path = b.path")
    with pytest.raises(AnalysisException):
        group.sql(q)
    with pytest.raises(ValueError, match="ambiguous"):
        group.sql(q, aligned="require")


def test_require_surfaces_refusal_reasons(group):
    with pytest.raises(ValueError, match="RIGHT"):
        group.sql("SELECT a.repo FROM repos a RIGHT JOIN chunks b "
                  "ON a.repo = b.repo AND a.path = b.path",
                  aligned="require")
    with pytest.raises(ValueError, match="not a group table"):
        group.sql("SELECT a.repo FROM repos a JOIN nope b "
                  "ON a.repo = b.repo AND a.path = b.path",
                  aligned="require")
    with pytest.raises(ValueError, match=r"\* select"):
        group.sql("SELECT * FROM repos a JOIN chunks b "
                  "ON a.repo = b.repo AND a.path = b.path",
                  aligned="require")
    with pytest.raises(ValueError, match="no join"):
        group.sql("SELECT repo FROM repos", aligned="require")
    # join keys not covering the layout columns cannot align
    with pytest.raises(ValueError, match="layout"):
        group.sql("SELECT a.path FROM repos a JOIN chunks b "
                  "ON a.repo = b.repo", aligned="require")


def test_auto_mode_falls_back_outside_envelope(group):
    """A RIGHT JOIN is outside the envelope: auto mode must run the
    naive plan, not fail."""
    q = ("SELECT a.repo, a.path, b.chunk_text FROM repos a "
         "RIGHT JOIN chunks b ON a.repo = b.repo AND a.path = b.path")
    df = group.sql(q)
    assert df.count() >= group.sql(JOIN_SQL).count()


def test_left_join_routes_and_matches_naive(group, no_auto_broadcast):
    """LEFT JOIN routes (round-5 envelope extension): unmatched left
    rows survive with NULL right columns, identical to the naive plan.
    The chunk table misses empty-content docs, so unmatched rows exist."""
    q = ("SELECT a.repo, a.path, a.content, b.chunk_text FROM repos a "
         "LEFT JOIN chunks b ON a.repo = b.repo AND a.path = b.path")
    routed = group.sql(q, aligned="require")
    assert "Exchange hashpartitioning" not in _plan(routed)
    naive = group.sql(q, aligned="off")
    _same_rows(routed, naive)
    assert routed.count() > group.sql(JOIN_SQL).count() or \
        routed.where("chunk_text IS NULL").count() == \
        naive.where("chunk_text IS NULL").count()


def test_left_join_right_key_reference_refuses(group):
    """b.repo under LEFT JOIN is NULL on unmatched rows — the merged key
    is not; routing must refuse rather than silently rewrite."""
    q = ("SELECT b.repo, a.path FROM repos a LEFT JOIN chunks b "
         "ON a.repo = b.repo AND a.path = b.path")
    with pytest.raises(ValueError, match="right-side join-key"):
        group.sql(q, aligned="require")
    # auto mode: naive serves it with true LEFT semantics
    assert group.sql(q).where("repo IS NULL").count() >= 0


def test_using_syntax_routes_with_bare_keys(group, no_auto_broadcast):
    """USING merges the join columns, so bare key references are legal
    in plain SQL — routing must accept and match the naive plan."""
    q = ("SELECT repo, path, content, chunk_text "
         "FROM repos JOIN chunks USING (repo, path)")
    routed = group.sql(q, aligned="require")
    assert "Exchange hashpartitioning" not in _plan(routed)
    _same_rows(routed, group.sql(q, aligned="off"))


def test_using_left_join_routes(group):
    q = ("SELECT repo, path, content, chunk_text "
         "FROM repos LEFT JOIN chunks USING (repo, path)")
    _same_rows(group.sql(q, aligned="require"),
               group.sql(q, aligned="off"))


def test_single_table_sql_unaffected(group):
    df = group.sql("SELECT repo, count(1) AS n FROM repos GROUP BY repo")
    assert df.count() > 0


def test_string_literal_with_dot_is_not_rewritten(group):
    q = ("SELECT a.repo, concat(a.path, '.bak') AS p "
         "FROM repos a JOIN chunks b ON a.repo = b.repo AND a.path = b.path")
    routed = group.sql(q)
    assert routed.where("p NOT LIKE '%.bak'").count() == 0
    _same_rows(routed, group.sql(q, aligned="off"))


def test_subquery_falls_back_to_naive(group):
    """A subquery outside FROM references group tables by NAME; only the
    naive path registers those views, so routing must refuse and the
    naive plan must serve the query."""
    q = ("SELECT a.repo, a.path FROM repos a JOIN chunks b "
         "ON a.repo = b.repo AND a.path = b.path "
         "WHERE a.lsn IN (SELECT max(lsn) FROM repos)")
    df = group.sql(q)  # auto: naive fallback, must not error
    assert df.count() > 0
    with pytest.raises(ValueError, match="subquery"):
        group.sql(q, aligned="require")


def test_parenthesized_on_condition_routes(group, no_auto_broadcast):
    q = ("SELECT a.repo, a.path, b.chunk_text FROM repos a JOIN chunks b "
         "ON (a.repo = b.repo AND a.path = b.path)")
    routed = group.sql(q, aligned="require")
    assert "Exchange hashpartitioning" not in _plan(routed)
    _same_rows(routed, group.sql(q, aligned="off"))


def test_left_chain_middle_key_refuses(group, no_auto_broadcast):
    """`a LEFT JOIN b ... LEFT JOIN c ON b.k = c.k` matches c only where
    b matched, but the routed plan joins c on the merged key: routing
    must refuse (auto falls back to the naive answer), while the
    `ON a.k = c.k` form routes and matches."""
    q = ("SELECT a.repo, a.path, b.chunk_text, c.lsn AS doc_lsn "
         "FROM repos a LEFT JOIN chunks b "
         "ON a.repo = b.repo AND a.path = b.path "
         "LEFT JOIN langs c ON {x}.repo = c.repo AND {x}.path = c.path")
    middle, first = q.format(x="b"), q.format(x="a")
    naive = group.sql(middle, aligned="off")
    # the distinguishing row: missing from chunks, present in langs
    assert group.sql(first, aligned="off").where(
        "chunk_text IS NULL AND doc_lsn IS NOT NULL").count() > 0
    _same_rows(group.sql(middle), naive)
    with pytest.raises(ValueError, match="does not pair the first table"):
        group.sql(middle, aligned="require")
    routed = group.sql(first, aligned="require")
    assert "Exchange hashpartitioning" not in _plan(routed)
    _same_rows(routed, group.sql(first, aligned="off"))


def test_case_variant_collision_routes(group):
    """`lang` (repos) and `Lang` (langs) collide under Spark's
    case-insensitive resolution; the routed join must rename one of them
    exactly as the router maps references, never raise AnalysisException."""
    q = ("SELECT a.repo, a.path, a.lang AS src_lang, b.Lang AS up_lang "
         "FROM repos a JOIN langs b ON a.repo = b.repo AND a.path = b.path")
    _same_rows(group.sql(q, aligned="require"), group.sql(q, aligned="off"))


def test_concurrent_routing_uses_private_views(spark, group, monkeypatch):
    """Two threads routing different queries on one session must not
    replace or drop each other's joined source view."""
    queries = [JOIN_SQL,
               "SELECT a.repo, a.path, b.lsn AS doc_lsn FROM repos a "
               "LEFT JOIN langs b ON a.repo = b.repo AND a.path = b.path"]
    want = [Counter(map(tuple, group.sql(q, aligned="off").collect()))
            for q in queries]
    errors: list[Exception] = []
    start = threading.Barrier(2)

    def worker(i: int) -> None:
        try:
            start.wait(timeout=60)
            # plan back to back so the two threads' view windows overlap
            dfs = [group.sql(queries[i], aligned="require")
                   for _ in range(6)]
            for df in dfs:
                assert Counter(map(tuple, df.collect())) == want[i]
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("__dms_aligned_src")]

    # deterministic interleaving: a whole second routed query runs while
    # the first one's view is registered but not yet resolved
    real_sql, inner = spark.sql, []

    def interleaved_sql(q, *a, **kw):
        if "__dms_aligned_src" in q and not inner:
            inner.append(None)  # the nested call passes straight through
            inner[0] = group.sql(queries[1], aligned="require").collect()
        return real_sql(q, *a, **kw)

    monkeypatch.setattr(spark, "sql", interleaved_sql)
    got = group.sql(queries[0], aligned="require").collect()
    assert Counter(map(tuple, got)) == want[0]
    assert Counter(map(tuple, inner[0])) == want[1]


def test_concurrent_naive_sql_keeps_its_views(spark, group):
    """The naive path registers views under the group's table names; two
    threads running different aligned="off" queries on one session must
    not drop or replace each other's views mid-query."""
    queries = [
        "SELECT count(*) AS n FROM repos",
        "SELECT lang, count(*) AS n FROM repos GROUP BY lang",
        "SELECT repo, count(*) AS n FROM chunks GROUP BY repo",
        "SELECT Lang, count(*) AS n FROM langs GROUP BY Lang",
        "SELECT a.repo, count(*) AS n FROM repos a JOIN chunks b "
        "ON a.repo = b.repo AND a.path = b.path GROUP BY a.repo",
        "SELECT b.Lang, max(a.lsn) AS hi FROM repos a JOIN langs b "
        "ON a.repo = b.repo AND a.path = b.path GROUP BY b.Lang",
    ]
    want = [Counter(map(tuple, group.sql(q, aligned="off").collect()))
            for q in queries]
    errors: list[Exception] = []
    start = threading.Barrier(2)

    def worker(order: list[int]) -> None:
        try:
            start.wait(timeout=60)
            for i in order:
                got = group.sql(queries[i], aligned="off").collect()
                assert Counter(map(tuple, got)) == want[i], queries[i]
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    orders = [list(range(6)), list(range(5, -1, -1))]
    threads = [threading.Thread(target=worker, args=(o,)) for o in orders]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert not {"repos", "chunks", "langs"} & {
        t.name for t in spark.catalog.listTables()}
