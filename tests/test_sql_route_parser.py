"""Pure-parser tests for the aligned-SQL router (tables/sql_route.py) —
no Spark session: the grammar's accept/reject envelope and the collision
rename rule must be cheap to pin exhaustively."""

import pytest

from data_migration_service_spark.tables.colocated import collision_renames
from data_migration_service_spark.tables.sql_route import Unroutable, parse


def test_accepts_basic_join_chain():
    p = parse("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k "
              "JOIN t3 c ON b.k = c.k WHERE a.x > 1 GROUP BY a.x "
              "HAVING count(1) > 0 ORDER BY a.x LIMIT 5")
    assert [n for n, _ in p.tables] == ["t1", "t2", "t3"]
    assert p.on_cols == ["k"]
    assert p.where and p.group and p.having and p.order and p.limit


def test_alias_defaults_to_table_name():
    p = parse("SELECT t1.x FROM t1 JOIN t2 ON t1.k = t2.k")
    assert p.tables == [("t1", "t1"), ("t2", "t2")]


def test_as_alias_and_inner_keyword():
    p = parse("SELECT a.x FROM t1 AS a INNER JOIN t2 AS b ON a.k = b.k")
    assert p.tables == [("t1", "a"), ("t2", "b")]


@pytest.mark.parametrize("sql,reason", [
    ("SELECT * FROM t1 a JOIN t2 b ON a.k = b.k", "top-level"),
    ("SELECT a.x FROM t1 a RIGHT JOIN t2 b ON a.k = b.k", "RIGHT"),
    ("SELECT a.x FROM t1 a CROSS JOIN t2 b", "CROSS"),
    ("SELECT a.x FROM t1 a, t2 b", "comma"),
    ("SELECT a.x FROM (SELECT 1) a JOIN t2 b ON a.k = b.k", "subquery"),
    ("SELECT x FROM t1", "no join"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.j", "differently-named"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k > b.k", "conjunction"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k OR a.j = b.j",
     "conjunction"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k AND a.k = a.k",
     "within one table"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k "
     "JOIN t3 c ON c.j = a.j", "different equality sets"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k UNION SELECT 1",
     "UNION"),
    ("SELECT a.x, (SELECT max(y) FROM t2) FROM t1 a JOIN t2 b "
     "ON a.k = b.k", "subquery outside FROM"),
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k "
     "WHERE a.x IN (SELECT y FROM t3)", "subquery outside FROM"),
    ("SELECT a.x FROM db.t1 a JOIN t2 b ON a.k = b.k", "qualified table"),
    # clause out of canonical order surfaces as trailing tokens
    ("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k ORDER BY a.x "
     "HAVING count(1) > 0", "trailing"),
])
def test_rejects_outside_envelope(sql, reason):
    with pytest.raises(Unroutable, match=reason):
        parse(sql)


def test_string_literals_survive_tokenizing():
    p = parse("SELECT concat(a.x, 'join .dot ''q''') AS y "
              "FROM t1 a JOIN t2 b ON a.k = b.k")
    texts = [t.text for t in p.select]
    assert "'join .dot ''q'''" in texts


def test_collision_renames_positional_suffix():
    # t0(k, x, lsn), t1(k, x, lsn, y), t2(k, lsn): collisions rename to
    # _rK positionally; join col never renames
    ren = collision_renames(
        [["k", "x", "lsn"], ["k", "x", "lsn", "y"], ["k", "lsn"]], ["k"])
    assert ren[(0, "lsn")] == "lsn"
    assert ren[(1, "x")] == "x_r1"
    assert ren[(1, "lsn")] == "lsn_r1"
    assert ren[(1, "y")] == "y"
    assert ren[(2, "lsn")] == "lsn_r2"
    assert ren[(1, "k")] == "k" and ren[(2, "k")] == "k"


def test_collision_renames_cascaded_collision():
    # a later table whose column collides with an EARLIER rename target
    # (x_r1) must still get a unique name
    ren = collision_renames([["k", "x"], ["k", "x"], ["k", "x_r1"]], ["k"])
    assert ren[(1, "x")] == "x_r1"
    assert ren[(2, "x_r1")] == "x_r1_r2"


def test_collision_renames_case_insensitive():
    # Spark resolves names case-insensitively: `lang` and `Lang` collide,
    # and a key spelled in another case is still the key
    ren = collision_renames([["K", "lang"], ["k", "Lang"]], ["k"])
    assert ren[(1, "lang")] == "Lang_r1"
    assert ren[(1, "k")] == "k"


def test_left_chain_on_must_pair_first_table():
    with pytest.raises(Unroutable, match="does not pair the first table"):
        parse("SELECT a.x FROM t1 a LEFT JOIN t2 b ON a.k = b.k "
              "LEFT JOIN t3 c ON b.k = c.k")
    with pytest.raises(Unroutable, match="does not pair the first table"):
        parse("SELECT a.x FROM t1 a LEFT JOIN t2 b ON a.k = b.k "
              "LEFT JOIN t3 c ON a.k = c.k AND a.k = b.k")
    p = parse("SELECT a.x FROM t1 a LEFT JOIN t2 b ON a.k = b.k "
              "LEFT JOIN t3 c ON c.k = a.k")
    assert p.how == "left" and p.on_cols == ["k"]
    # inner chains may key any earlier table: equal keys are transitive
    assert parse("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k "
                 "JOIN t3 c ON b.k = c.k").on_cols == ["k"]


def test_left_join_and_using_parse():
    p = parse("SELECT a.x FROM t1 a LEFT OUTER JOIN t2 b ON a.k = b.k")
    assert p.how == "left" and not p.using
    p = parse("SELECT x FROM t1 JOIN t2 USING (k, j)")
    assert p.how == "inner" and p.using and p.on_cols == ["k", "j"]
    p = parse("SELECT x FROM t1 LEFT JOIN t2 USING (k)")
    assert p.how == "left" and p.using
    with pytest.raises(Unroutable, match="mixed"):
        parse("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k "
              "LEFT JOIN t3 c ON a.k = c.k")
    with pytest.raises(Unroutable, match="SEMI"):
        parse("SELECT a.x FROM t1 a LEFT SEMI JOIN t2 b ON a.k = b.k")
