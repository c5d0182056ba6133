"""Round-4 robustness regressions: the events-ts dtype branch, write-once
fixture reuse, bucketed-table re-registration, and the size-derived
similarity block formulas (VERDICT r3 items 1/4/7)."""

from __future__ import annotations

import json
import math
import os

from tests.conftest import SF_SMOKE


def test_events_ts_loads_as_timestamp(spark):
    """tables.load must yield a TIMESTAMP ts whether the fixture parquet is
    TIMESTAMP(MICROS) (current driver output) or TIMESTAMP(NANOS)-as-bigint
    (pre-r3 output) — the r3 round-killer was an unconditional nanos path."""
    from wikidata2pg_spark.tables import load

    e = load(spark, SF_SMOKE, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    assert e.limit(1).count() == 1


def test_events_ts_nanos_fixture_still_converts(spark, tmp_path):
    """Synthesize the legacy shape (bigint nanos column named ts) and check
    the branch still converts it instead of erroring."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "sf_legacy")
    os.makedirs(f"{p}", exist_ok=True)
    spark.range(3).select(
        (F.col("id") * 1_000_000_000 + 1_700_000_000_000_000_000).alias("ts")
    ).write.mode("overwrite").parquet(f"{p}/events.parquet")
    from wikidata2pg_spark.tables import load

    e = load(spark, p, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    assert e.count() == 3






def test_custom_datasink_reuses_committed_dir(spark):
    """Second invocation must not rewrite: the job-level _SINK_COMPLETE
    marker (touched only after save() returns) gates reuse — the old
    mkdtemp-per-call leaked a dir per invocation, and per-file globs can't
    distinguish a partial commit from a finished one."""
    import glob

    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.util import tmpdir_for

    q = all_queries()["q_custom_datasink"]
    q(spark, SF_SMOKE).collect()
    out = tmpdir_for(SF_SMOKE, "jsonl_sink", "nation")
    assert os.path.exists(os.path.join(out, "_SINK_COMPLETE"))
    files1 = sorted(glob.glob(os.path.join(out, "*.jsonl")))
    mtimes1 = [os.path.getmtime(f) for f in files1]
    assert files1, "first invocation must commit jsonl files"
    q(spark, SF_SMOKE).collect()
    files2 = sorted(glob.glob(os.path.join(out, "*.jsonl")))
    assert files2 == files1
    assert [os.path.getmtime(f) for f in files2] == mtimes1


def test_custom_datasink_cleans_partial_commit(spark):
    """Crash-recovery path (r4 ADVICE): marker absent but committed task
    files present (crash after commit() renamed some files, before the job
    marker was written). The rerun must clear leftovers first — the writer
    appends uuid-named files, so writing on top would DOUBLE the rows."""
    import glob

    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.util import tmpdir_for

    q = all_queries()["q_custom_datasink"]
    n_expected = q(spark, SF_SMOKE).count()
    out = tmpdir_for(SF_SMOKE, "jsonl_sink", "nation")
    os.remove(os.path.join(out, "_SINK_COMPLETE"))
    with open(os.path.join(out, "stray.tmp"), "w") as fh:
        fh.write("x")  # an un-renamed task file from the crashed run
    assert q(spark, SF_SMOKE).count() == n_expected  # rewritten, not doubled
    assert os.path.exists(os.path.join(out, "_SINK_COMPLETE"))
    assert not glob.glob(os.path.join(out, "*.tmp"))


def test_plan_cache_invalidates_directory_table_rewrite(spark, tmp_path):
    """r4 ADVICE: for directory-style tables, rewriting a part file in
    place does not change the DIRECTORY's stat, so a top-path cache key
    would serve a stale plan (stale listing/schema). The key must fold in
    every part file's (mtime_ns, size)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikidata2pg_spark.tables import load

    d = tmp_path / "region.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"r_regionkey": [1], "r_name": ["A"], "r_comment": ["c"]}),
        str(d / "part-0.parquet"),
    )
    assert load(spark, str(tmp_path), "region").count() == 1
    pq.write_table(
        pa.table(
            {"r_regionkey": [1, 2], "r_name": ["A", "B"], "r_comment": ["c", "d"]}
        ),
        str(d / "part-0.parquet"),
    )
    assert load(spark, str(tmp_path), "region").count() == 2


def test_bucketed_registers_over_committed_location(spark):
    """Fresh-catalog path: when the table is absent from the catalog but
    its location holds committed (_SUCCESS) bucketed files, the query must
    register an external table over them — never rmtree data another
    session may be reading (the standing r2/r3 race)."""
    import hashlib
    import tempfile

    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.util import source_stamp

    q = all_queries()["q_join_bucketed"]
    n1 = q(spark, SF_SMOKE).count()
    h = hashlib.md5(SF_SMOKE.encode()).hexdigest()[:6] + source_stamp(
        SF_SMOKE, "lineitem", "orders"
    )[:6]
    li_t = f"li_bucketed_{h}"
    loc_success = os.path.join(
        tempfile.gettempdir(), "wikidata2pg_spark", h, "bucketed", li_t, "_SUCCESS"
    )
    assert os.path.exists(loc_success)
    mtime = os.path.getmtime(loc_success)
    # simulate a fresh session's empty catalog
    spark.sql(f"DROP TABLE IF EXISTS {li_t}")
    spark.sql(f"DROP TABLE IF EXISTS o_bucketed_{h}")
    n2 = q(spark, SF_SMOKE).count()
    assert n2 == n1
    # data was NOT rewritten — same commit marker
    assert os.path.getmtime(loc_success) == mtime


def test_derived_block_formulas():
    """Block/cell derivation: fixture scale reproduces the measured
    constants; large corpora scale up and stay clamped."""
    from wikidata2pg_spark.llm import similarity as S

    assert S._derived_blocks(SF_SMOKE) == 4  # 500 rows -> floor
    assert S._ivf_cells(SF_SMOKE) == 8  # sqrt(500/8) ~ 7.9 -> floor 8
    # Scale behavior through the PRODUCTION function (not an inline copy
    # of its arithmetic): patch the row-count probe so the real floor/cap
    # logic is what's under test.
    orig = S._embedding_rows
    try:
        S._embedding_rows = lambda sf_dir: 10_000_000
        assert S._derived_blocks("ignored") == 1024  # cap
        S._embedding_rows = lambda sf_dir: 100_000
        assert S._derived_blocks("ignored") == 25  # ceil(100000/4096)
        assert S._ivf_cells("ignored") == 112  # round(sqrt(100000/8))
    finally:
        S._embedding_rows = orig
    assert S._derived_blocks("/nonexistent") == 4  # fallback
    assert S._ivf_cells("/nonexistent") == 8


def test_source_stamp_invalidates_on_fixture_rewrite(tmp_path):
    """Derived-artifact dirs are keyed on source (mtime, size): rewriting a
    fixture at the same path must produce a different stamp (the driver
    regenerates fixtures between rounds — stale roundtrip reuse was the r4
    review's top finding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikidata2pg_spark.util import source_stamp, tmpdir_for

    sf = str(tmp_path)
    pq.write_table(pa.table({"x": [1, 2, 3]}), f"{sf}/nation.parquet")
    s1 = source_stamp(sf, "nation")
    d1 = tmpdir_for(sf, "sink", "nation")
    os.utime(f"{sf}/nation.parquet", (1, 1))  # same bytes, new mtime
    s2 = source_stamp(sf, "nation")
    d2 = tmpdir_for(sf, "sink", "nation")
    assert s1 != s2 and d1 != d2
    # missing table is stable, not an error
    assert source_stamp(sf, "no_such") == source_stamp(sf, "no_such")


def test_audio_energy_short_docs_yield_no_windows(spark, tmp_path):
    """Docs shorter than one 16-byte window must produce ZERO windows:
    Spark's sequence(start, stop) steps DOWN when start > stop, so an
    unguarded explode over sequence(0, -1) emits [0, -1] garbage rows
    (caught by the r4 review; the fixture's ~80-char texts masked it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikidata2pg_spark.registry import all_queries

    sf = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": [1, 2, 3],
                "text": ["short", "", "x" * 40],
                "lang": ["en"] * 3,
                "source": ["s"] * 3,
                "n_chars": [5, 0, 40],
            }
        ),
        f"{sf}/documents.parquet",
    )
    rows = all_queries()["q_multimodal_audio_energy"](spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.win_idx)
    assert 1 not in by_doc and 2 not in by_doc
    assert by_doc[3] == [0, 1, 2, 3]  # (40-16)//8 + 1 windows


def test_image_tiles_geometry_and_byte_sums(spark, tmp_path):
    """Patch-grid brute force on crafted payloads: the empty/short docs
    emit no patches (the audio-key sequence guard), a 40-byte doc cuts
    to 2 full 16-byte patches (the 8-byte tail is dropped, never a
    partial patch), and a 300-byte doc is CAPPED at 16 patches (4x4
    grid). Byte sums and grid coordinates checked against Python."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikidata2pg_spark.registry import all_queries

    sf = str(tmp_path)
    texts = {1: "short", 2: "", 3: "x" * 40, 4: "abcdefgh" * 38}  # 304 bytes
    pq.write_table(
        pa.table(
            {
                "doc_id": list(texts),
                "text": list(texts.values()),
                "lang": ["en"] * 4,
                "source": ["s"] * 4,
                "n_chars": [len(t) for t in texts.values()],
            }
        ),
        f"{sf}/documents.parquet",
    )
    rows = all_queries()["q_multimodal_image_tiles"](spark, sf).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc and 2 not in by_doc
    assert len(by_doc[3]) == 2 and all(r.n_patches == 2 for r in by_doc[3])
    assert len(by_doc[4]) == 16 and all(r.n_patches == 16 for r in by_doc[4])
    for doc_id, rs in by_doc.items():
        raw = texts[doc_id].encode()
        for r in sorted(rs, key=lambda r: r.patch_idx):
            patch = raw[r.patch_idx * 16 : r.patch_idx * 16 + 16]
            assert r.patch_hex == patch.hex().upper()
            assert r.byte_sum == sum(patch)
            assert (r.tile_row, r.tile_col) == (
                r.patch_idx // 4,
                r.patch_idx % 4,
            )
    # the cap really is the cap: doc 4 has 304 bytes but only 256 used
    assert max(r.patch_idx for r in by_doc[4]) == 15


def test_pipeline_multimodal_dedup_and_gate(spark, tmp_path):
    """Crafted corpus: doc 30 repeats doc 10's first 32 bytes at a
    16-byte-aligned offset -> exactly its first two patches are marked
    duplicates (doc 10, being the lower owner key, keeps them); a
    47-byte doc falls to the payload gate; within-doc repetition also
    counts (the canonical owner is the FIRST occurrence corpus-wide)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikidata2pg_spark.registry import all_queries

    head = "0123456789abcdefghijklmnopqrstuv"  # 32 bytes, 2 distinct patches
    texts = {
        10: head + "0123456789ABCDEFGHIJKLMNOPQRSTUV",  # owner, 4 distinct
        30: head + "wxyz!@#$%^&*()-=WXYZ9876543210_+",  # patches 0,1 dup doc 10
        40: "Z" * 47,                 # below the 48-byte gate
        50: ("W" * 16) * 3,           # self-repetition: patches 1,2 dup patch 0
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": list(texts),
                "text": list(texts.values()),
                "lang": ["en"] * 4,
                "source": ["s"] * 4,
                "n_chars": [len(t) for t in texts.values()],
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    rows = {
        r.doc_id: r
        for r in all_queries()["q_pipeline_multimodal"](
            spark, str(tmp_path)
        ).collect()
    }
    assert 40 not in rows and set(rows) == {10, 30, 50}
    assert rows[10].n_dup_patches == 0 and rows[10].has_shared_content == 0
    assert rows[30].n_dup_patches == 2 and rows[30].has_shared_content == 1
    assert rows[50].n_dup_patches == 2  # 3 identical patches, 1 owner
    for doc_id, r in rows.items():
        raw = texts[doc_id].encode()[:256]
        np_ = len(raw) // 16
        mass = sum(raw[: np_ * 16])
        assert (r.n_patches, r.byte_mass) == (np_, mass)
        assert r.mean_patch_mass == math.floor(mass / np_ + 0.5)


def test_driver_window_ordering_is_pinned():
    """queries()/oracle_sql() must lead with _ROUND10_PRIORITY in order:
    the driver checks EXACTLY the first 50 keys per round, so accidental
    reordering (a new module import, a dict rebuild) would silently swap
    which keys get correctness rows."""
    import __spark_entry__ as M
    from wikidata2pg_spark.registry import _ROUND10_PRIORITY

    qs = list(M.queries())
    pinned = [k for k in _ROUND10_PRIORITY if k in qs]
    assert len(pinned) == 50  # window exactly full — no wasted slot
    assert qs[: len(pinned)] == pinned
    # The r10 window drains the ENTIRE never-tested backlog: every key
    # that had no driver row in rounds 1-9 must sit in the first 50, and
    # the post-freeze deferral list that carried the backlog since r6 is
    # now EMPTY — after the r10 driver pass the cumulative ledger reads
    # 365/365 and nothing registered is un-attested.
    import glob
    import json
    import os

    window = set(qs[:50])
    tested: set[str] = set()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r0[1-9].json")):
        tested |= set(json.load(open(f)))
    # Derive "never driver-tested" from the REGISTERED key set, not from
    # the priority tuple itself (that would be circular — a registered,
    # never-tested key accidentally missing from _ROUND10_PRIORITY would
    # pass silently).
    never = [k for k in qs if k not in tested]
    assert len(never) == 37  # the documented final backlog size
    for k in never:
        assert k in window, (
            f"{k} is registered, has no driver row, and is outside the "
            "50-key r10 window — the r10 contract is a FULL drain"
        )


def test_hll_merge_equals_direct_and_is_accurate(spark):
    """Mergeability is the point of q_agg_hll_mergeable: the union of
    per-group sketches must estimate the SAME value as one direct global
    sketch at the same lgK (merge is lossless), and both within 2% of the
    exact distinct count."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_T2
    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.tables import load

    rows = {r.event_type: r for r in
            all_queries()["q_agg_hll_mergeable"](spark, SF_T2).collect()}
    # every row (per-group and global) must certify the 3-sigma invariant
    # the driver hash pins against TRUE
    for t, r in rows.items():
        assert r.est_within_5pct, f"{t}: merged estimate off by >5%"
    exact = load(spark, SF_T2, "events").agg(
        F.countDistinct("user_id").alias("e")
    ).collect()[0].e
    assert rows["__ALL__"].exact_users == exact
    # tighter empirical facts the hashed boolean deliberately does NOT pin
    # (see the key's docstring): at sf0.01 cardinality the lgK=12 sketch is
    # in exact coupon mode, so the union estimate equals exact; and for a
    # FIXED sharding the union estimate is deterministic across reruns.
    def union_est(n_shards: int) -> float:
        sh = load(spark, SF_T2, "events").groupBy(
            "event_type", (F.col("user_id") % n_shards).alias("s")
        ).agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
        return sh.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("e")
        ).collect()[0].e

    assert union_est(4) == exact  # coupon-exact at this cardinality
    assert union_est(4) == union_est(4)  # deterministic per sharding


def test_fixture_key_uniqueness_invariants():
    """The oracle-stability contract leans on these fixture invariants:
    every window ORDER BY tiebreaker column must be unique within its
    table (FIXTURES rule 2), and the r5 moving-rows incident proved the
    lineitem (l_orderkey, l_linenumber) pair is NOT such a key. If a
    driver fixture regeneration ever breaks one of these, dozens of
    window/top-k oracles would flake with confusing value mismatches —
    fail HERE first, loudly, with the violated invariant named."""
    import duckdb

    from tests.conftest import SF_T2

    con = duckdb.connect()
    for sf in (SF_SMOKE, SF_T2):
        for t, k in [
            ("orders", "o_orderkey"),
            ("events", "event_id"),
            ("part", "p_partkey"),
            ("customer", "c_custkey"),
            ("supplier", "s_suppkey"),
            ("documents", "doc_id"),
            ("embeddings", "vec_id"),
        ]:
            dupes = con.sql(
                f"SELECT count(*) - count(DISTINCT {k}) "
                f"FROM read_parquet('{sf}/{t}.parquet')"
            ).fetchone()[0]
            assert dupes == 0, f"{sf}/{t}.{k} is no longer unique ({dupes} dupes)"
        # the moving-rows window order must stay unique (it carries a
        # content-sensitive ROWS frame)
        dupes = con.sql(
            f"""SELECT count(*) FROM (
                SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                       l_quantity, l_extendedprice, count(*) AS c
                FROM read_parquet('{sf}/lineitem.parquet')
                GROUP BY ALL HAVING count(*) > 1)"""
        ).fetchone()[0]
        assert dupes == 0, f"{sf}: moving-rows window order has {dupes} tied tuples"


def _rows_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_jdbc_upsert_marker_loss_converges(spark):
    """Crash-class pin (VERDICT r5 task 6): the completion marker written
    AFTER the stream finished is deleted — the "marker write crashed"
    state. The rerun must re-enter the stream path, find the checkpoint
    caught up and every batch in the applied-ledger, re-apply NOTHING
    (counts would double if MERGE re-ran), and converge to the identical
    serving table — then republish the marker."""
    import os

    from tests.conftest import SF_T2
    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.util import tmpdir_for

    fn = all_queries()["q_stream_jdbc_upsert"]
    before = _rows_sorted(fn(spark, SF_T2))
    db_dir = tmpdir_for(SF_T2, "derbydb_upsert", "events")
    marker = os.path.join(db_dir, "_STREAM_COMPLETE")
    assert os.path.exists(marker), "first run must have published the marker"
    os.remove(marker)
    after = _rows_sorted(fn(spark, SF_T2))
    assert after == before  # no double-apply, no loss
    assert os.path.exists(marker), "rerun must republish the marker"


def test_custom_stream_source_marker_loss_converges(spark):
    """Same crash class for the custom streaming source: with the marker
    gone but the drained parquet + checkpoint intact, the re-drain loop's
    availableNow runs see a caught-up checkpoint, append nothing, pass the
    exact-count validation, and republish the marker over identical data."""
    import hashlib
    import os

    from tests.conftest import SF_T2
    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.sources.scans import _DUMP_ENTITIES, _tmpdir

    fn = all_queries()["q_custom_stream_source"]
    before = _rows_sorted(fn(spark, SF_T2))
    src_stamp = hashlib.md5("\n".join(_DUMP_ENTITIES).encode()).hexdigest()[:10]
    out = _tmpdir(SF_T2, f"custom_stream-{src_stamp}")
    marker = os.path.join(out, "_STREAM_COMPLETE")
    assert os.path.exists(marker), "first run must have published the marker"
    os.remove(marker)
    after = _rows_sorted(fn(spark, SF_T2))
    assert after == before
    assert os.path.exists(marker), "rerun must republish the marker"
