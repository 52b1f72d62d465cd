"""Mimics the driver's t2 gate: run every declared query on Spark at
sf0.01 AND its DuckDB oracle SQL; compare row count + order-insensitive
values. Queries without oracle SQL get a rows-run smoke check.

r15 (VERDICT r14 #1): the sweep used to run its 150 Spark actions
sequentially, one per parametrized test — 30-47 min wall, which blew
the driver's verification window (VERIFY_r14 tests_ok=false on a
truncated-but-green tail). The queries are independent, so the Spark
side now runs once per module through a small thread pool (guide §2.6:
actions are only sequential because the driver calls them
sequentially; concurrent jobs back-fill the executor tail). Every
parametrized test and every assertion is unchanged — each test pulls
its query's prefetched frame (or re-raises that query's own exception)
and compares against DuckDB exactly as before. Nothing is cached
across pytest invocations; every run recomputes from the parquet
inputs."""

import os
import struct
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()

_PARITY_THREADS = int(os.environ.get("VSP_PARITY_THREADS", "8"))


@pytest.fixture(scope="module")
def spark_frames(spark, request):
    """Run every declared query's Spark action concurrently; return
    {name: pandas frame | Exception}. Failures are captured per query
    and re-raised inside that query's own test, so reporting (and -x
    semantics) match the old sequential form test-for-test."""

    def run(name):
        try:
            return name, _QUERIES[name](spark, SF_DIR).toPandas()
        except Exception as e:  # re-raised by the owning test
            return name, e

    # prefetch only what a SELECTED test will read (-k subset runs stay
    # subset-priced; a full run prefetches everything)
    selected = set()
    for item in request.session.items:
        base, _, param = item.name.partition("[")
        if base in ("test_oracle_match", "test_rows_only_runs") and param:
            selected.add(param.rstrip("]"))
    names = sorted(set(_QUERIES) & selected)
    if os.path.basename(os.path.normpath(SF_DIR)) != "sf0.01":
        # these tests skip at other SFs (fixture-pinned oracles) —
        # don't run what no test will read
        names = [n for n in names if n not in _SF001_ONLY_ORACLES]
    if not names:
        return {}
    # ship the worker package ONCE before fanning out: every query goes
    # through entry._configure -> _ship_package -> addPyFile, which is
    # idempotent per app but not thread-safe on FIRST call (concurrent
    # zip writes + addFile race with "exists and does not match
    # contents"). Run one query serially to warm it.
    first = dict([run(names[0])])
    with ThreadPoolExecutor(max_workers=_PARITY_THREADS) as pool:
        out = dict(pool.map(run, names[1:]))
    out.update(first)
    return out


def _frame(spark_frames, name) -> pd.DataFrame:
    got = spark_frames[name]
    if isinstance(got, Exception):
        raise got
    return got


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # Bit-strict: the driver hashes raw bytes, where -0.0 != +0.0
        # (the r1 q_knn_cosine failure) and two NaNs with different
        # payloads differ too — compare the IEEE-754 bytes, full stop.
        return struct.pack("<d", a) == struct.pack("<d", b)
    return a == b


# Fixture-backed oracles embed the sf0.01 fixture path and medoid in
# their static SQL (the driver's correctness gate runs oracles at
# sf=0.01 only — that is the contract). Running THIS harness at a
# different SF via SPARK_GRAFT_SF_DIR_T2 would compare a different
# scale's fixture against sf0.01's SQL, so skip them there.
_SF001_ONLY_ORACLES = {
    "q_degree_stats",
    "q_graph_reachability",
    "q_index_append",
    "q_index_delete",
}


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(name, spark_frames, ddb):
    if name in _SF001_ONLY_ORACLES and os.path.basename(
        os.path.normpath(SF_DIR)
    ) != "sf0.01":
        pytest.skip("fixture-backed oracle SQL is pinned to sf0.01")
    got = _canon(_frame(spark_frames, name))
    want = _canon(ddb.sql(_ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    for col in got.columns:
        ga, wa = got[col].to_list(), want[col].to_list()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(ga, wa)) if not _values_equal(x, y)
        ]
        assert not bad, f"{name}.{col}: first mismatches {bad[:5]}"


@pytest.mark.parametrize(
    "name", sorted(set(_QUERIES) - set(_ORACLES))
)
def test_rows_only_runs(name, spark_frames):
    # the driver canonicalizes (sorts) even no-oracle outputs before
    # recording the row count, and an array/map column crashes its
    # pandas sort, aborting the whole gate. Mimic that.
    pdf = _frame(spark_frames, name)
    assert len(_canon(pdf)) > 0, f"{name}: rows-only query returned 0 rows"
    # Rows-only queries exist precisely because the DuckDB oracle can't
    # see their invariant (recall gate, split-fired, coverage, …) — so
    # every one MUST carry an ``ok`` column and it MUST hold (the r9
    # verdict's signal hole: ok=False rows used to flow through this
    # gate green, and a query with no ok column had no gate at all).
    assert "ok" in pdf.columns, f"{name}: rows-only query lacks an ok column"
    bad = pdf.loc[~pdf["ok"].astype(bool)]
    assert bad.empty, (
        f"{name}: ok invariant failed on {len(bad)}/{len(pdf)} rows; "
        f"first: {bad.head(3).to_dict('records')}"
    )


def test_probe_recovery_fixture_misses_at_single_probe(spark):
    """r13 (VERDICT r12 #4): q_semantic_probe_recovery is only a
    recovery proof if single-probe PROVABLY misses the planted pair on
    the same fixture — otherwise the hash match would hold for the
    probes=1 output too and gate nothing. Pin the miss: at probes=1
    the mixes land in different primary cells, both survive, and the
    verified-pair projection is missing the planted row (i.e. empty on
    this corpus, whose max natural cosine is 0.5128 < 0.9)."""
    if os.path.basename(os.path.normpath(SF_DIR)) != "sf0.01":
        pytest.skip("fixture pinned to sf0.01")
    from vamana_spark.operators import dedup as DD
    from vamana_spark.plans.declared import _probe_recovery_aug

    res = {
        r.vec_id: r
        for r in DD.semantic_dedup(
            _probe_recovery_aug(spark, SF_DIR),
            threshold=0.9, num_clusters=8, seed=42, probes=1,
        ).collect()
    }
    assert res[200000].cluster_id != res[200001].cluster_id
    assert res[200000].keep and res[200001].keep
    assert all(r.keep for r in res.values())  # the pair was the ONLY dup


def test_corner_fixture_misses_at_two_probes(spark):
    """r14 (VERDICT r13 #5): q_semantic_corner_recovery only gates the
    THIRD probe if probes=2 provably misses its planted 4-cell-corner
    pair on the same fixture — otherwise the hash match would already
    hold at probes=2 and the query would duplicate
    q_semantic_probe_recovery's gate. Pin the miss at BOTH lower
    settings: the members' primary cells differ and their top-2 cell
    sets are disjoint (by construction — rankings [0,3,1,5] vs
    [1,5,0,3]), so at probes in (1, 2) both survive and nothing else
    drops (max natural cosine 0.5128 < 0.9)."""
    if os.path.basename(os.path.normpath(SF_DIR)) != "sf0.01":
        pytest.skip("fixture pinned to sf0.01")
    from vamana_spark.operators import dedup as DD
    from vamana_spark.plans.declared import _corner_recovery_aug

    for probes in (1, 2):
        res = {
            r.vec_id: r
            for r in DD.semantic_dedup(
                _corner_recovery_aug(spark, SF_DIR),
                threshold=0.9, num_clusters=8, seed=42, probes=probes,
            ).collect()
        }
        assert res[200000].cluster_id != res[200001].cluster_id
        assert res[200000].keep and res[200001].keep, f"probes={probes}"
        assert all(r.keep for r in res.values()), f"probes={probes}"


def test_no_vacuous_oracles(ddb):
    """Every oracle query must return >0 rows at sf0.01 — a 0-vs-0
    driver row is vacuously green and proves nothing (the r5 verdict's
    q_dup_groups finding, generalized; r6 audit caught three more).
    New queries whose natural sf0.01 result is empty must plant
    deterministic in-query rows (the q_gopher_filter pattern)."""
    def count(name):
        # cursor() = one connection clone per thread (duckdb connections
        # are not shareable across threads; cursors are the sanctioned way)
        cur = ddb.cursor()
        try:
            return name, cur.sql(
                f"SELECT count(*) FROM ({_ORACLES[name]})"
            ).fetchone()[0]
        finally:
            cur.close()

    with ThreadPoolExecutor(max_workers=_PARITY_THREADS) as pool:
        counts = dict(pool.map(count, sorted(_ORACLES)))
    empty = [name for name in sorted(_ORACLES) if counts[name] == 0]
    assert not empty, f"vacuous (0-row) oracles: {empty}"
