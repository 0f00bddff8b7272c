"""Operator-library tests: mutation write-path round trips (tmp tables) and
multimodal mapInPandas plumbing. These mirror the reference's test-db.mjs
scenario style (SURVEY §5): build state, mutate, assert invariants."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from hive_backend_spark.catalog import load_table
from hive_backend_spark.operators import multimodal as MM
from hive_backend_spark.operators import mutation as MU

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def conn_table(spark, tmp_path):
    """A connections-like table (SURVEY §1.1) seeded from events users."""
    d = str(tmp_path / "connections")
    load_table(spark, SF_DIR, "events").select(
        F.col("user_id").alias("id"),
        F.col("ts").alias("last_sync_time"),
        F.lit(True).alias("active"),
        F.lit("active").alias("status"),
        F.lit(0).alias("retry_count"),
    ).groupBy("id").agg(
        F.max("last_sync_time").alias("last_sync_time"),
        F.first("active").alias("active"),
        F.first("status").alias("status"),
        F.first("retry_count").alias("retry_count"),
    ).write.parquet(d)
    return d


def test_overwrite_matching(spark, conn_table):
    before = spark.read.parquet(conn_table)
    n = before.count()
    updates = before.limit(3).withColumn("status", F.lit("error"))
    MU.overwrite_matching(spark, conn_table, updates, ["id"])
    after = spark.read.parquet(conn_table)
    assert after.count() == n
    assert after.filter(F.col("status") == "error").count() == 3


def test_upsert_latest_wins(spark, conn_table):
    before = spark.read.parquet(conn_table)
    n = before.count()
    # 2 replacements with newer ts + 1 brand-new key
    newer = before.limit(2).withColumn(
        "last_sync_time", F.col("last_sync_time") + F.expr("INTERVAL 1 DAY")
    ).withColumn("status", F.lit("resynced"))
    fresh = spark.createDataFrame(
        [(10_000_000, None, True, "new", 0)], schema=before.schema
    )
    MU.upsert_latest(spark, conn_table, newer.unionByName(fresh), ["id"], "last_sync_time")
    after = spark.read.parquet(conn_table)
    assert after.count() == n + 1
    assert after.filter(F.col("status") == "resynced").count() == 2
    assert after.filter(F.col("id") == 10_000_000).count() == 1


def test_soft_delete_then_conditional_update(spark, conn_table):
    ids = [r.id for r in spark.read.parquet(conn_table).limit(2).collect()]
    MU.soft_delete(spark, conn_table, F.col("id").isin(ids))
    after = spark.read.parquet(conn_table)
    gone = after.filter(F.col("id").isin(ids))
    assert gone.filter(F.col("active")).count() == 0
    assert gone.filter(F.col("status") != "deleted").count() == 0
    # F4 retry counter: error rows increment, others reset
    MU.conditional_update(
        spark,
        conn_table,
        F.col("status") == "deleted",
        {"retry_count": F.col("retry_count") + 1},
    )
    assert spark.read.parquet(conn_table).filter(F.col("retry_count") == 1).count() == 2


def test_retention_rewrite_and_snapshot(spark, conn_table, tmp_path):
    before = spark.read.parquet(conn_table)
    cutoff_us = before.agg(
        F.expr("percentile(unix_micros(last_sync_time), 0.5)")
    ).collect()[0][0]
    cutoff = F.timestamp_micros(F.lit(int(cutoff_us)))
    snap = str(tmp_path / "snap")
    MU.snapshot(spark, conn_table, snap)
    deleted = MU.retention_rewrite(spark, conn_table, "last_sync_time", cutoff)
    after = spark.read.parquet(conn_table)
    assert deleted > 0
    assert after.count() + deleted == spark.read.parquet(snap).count()
    assert after.filter(F.col("last_sync_time") < cutoff).count() == 0


def test_compact_and_evolve(spark, conn_table):
    MU.compact(spark, conn_table, target_files=1)
    parts = [f for f in os.listdir(conn_table) if f.startswith("part-")]
    assert len(parts) == 1
    n = spark.read.parquet(conn_table).count()
    MU.evolve_schema(
        spark, conn_table, {"metadata": F.lit(None).cast("string"), "priority": F.lit(0)}
    )
    MU.evolve_schema(spark, conn_table, {"priority": F.lit(99)})  # idempotent
    after = spark.read.parquet(conn_table)
    assert after.count() == n
    assert {"metadata", "priority"} <= set(after.columns)
    assert after.filter(F.col("priority") != 0).count() == 0


def test_atomic_overwrite_leaves_no_temp(spark, conn_table, tmp_path):
    parent = os.path.dirname(conn_table)
    MU.compact(spark, conn_table)
    leftovers = [f for f in os.listdir(parent) if f.startswith((".tmp-", ".old-"))]
    assert leftovers == []


def test_mutations_rewrite_single_file_table(spark, tmp_path):
    """The fixtures store each table as ONE .parquet file, not a directory
    of part files. An upsert and a retention rewrite on that layout must
    swap in the new table, so the next read returns the new rows, and
    leave no temp or old entry behind."""
    from datetime import timedelta

    path = str(tmp_path / "events.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "events.parquet"), path)
    before = spark.read.parquet(path)
    n = before.count()
    rows = before.orderBy("event_id").limit(2).collect()
    incoming = spark.createDataFrame(
        [r.asDict() | {"ts": r.ts + timedelta(days=1), "event_type": "upserted"} for r in rows]
        + [rows[0].asDict() | {"event_id": -1, "event_type": "upserted"}],
        schema=before.schema,
    )
    MU.upsert_latest(spark, path, incoming, ["event_id"], "ts")
    after = spark.read.parquet(path)
    assert after.count() == n + 1
    assert after.filter(F.col("event_type") == "upserted").count() == 3

    cutoff_us = after.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    cutoff = F.timestamp_micros(F.lit(int(cutoff_us)))
    deleted = MU.retention_rewrite(spark, path, "ts", cutoff)
    after = spark.read.parquet(path)
    assert deleted > 0
    assert after.count() + deleted == n + 1
    assert after.filter(F.col("ts") < cutoff).count() == 0
    leftovers = [f for f in os.listdir(tmp_path) if f.startswith((".tmp-", ".old-"))]
    assert leftovers == []


# --- multimodal ------------------------------------------------------------


def test_decode_media_stub(spark):
    docs = MM.with_blob(load_table(spark, SF_DIR, "documents"))
    out = MM.decode_media(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:10]:
        assert 16 <= r.width <= 271 and 16 <= r.height <= 271
        assert 1 <= r.channels <= 4
        assert len(r.features) == 16 and all(0.0 <= f <= 1.0 for f in r.features)
    # determinism: same blob -> same features
    again = {r[0]: r.features for r in MM.decode_media(docs).collect()}
    assert all(again[r[0]] == r.features for r in rows)


def _make_bmp(width, height, pixels):
    """Minimal 24bpp uncompressed BMP from top-down rows of (r, g, b)."""
    import struct

    row_size = ((24 * width + 31) // 32) * 4
    img = b""
    for row in reversed(pixels):  # positive height => bottom-up storage
        raw = b"".join(bytes([b, g, r]) for (r, g, b) in row)
        img += raw + b"\x00" * (row_size - len(raw))
    pixel_off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", pixel_off + len(img), 0, 0, pixel_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0
    )
    return header + dib + img


def _make_wav(sample_rate, channels, samples):
    """Minimal RIFF/WAVE PCM16 blob, with an extra odd-sized LIST chunk
    before data to exercise even-padded chunk walking."""
    import struct

    data = struct.pack("<%dh" % len(samples), *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * channels * 2,
        channels * 2, 16,
    )
    listc = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + listc
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_media_real_bmp_wav(spark):
    """stub=False REALLY decodes BMP(24bpp) and WAV(PCM16): dimensions,
    channel stats, and audio stats match a hand-computed reference,
    including BMP row padding + bottom-up order and WAV chunk padding."""
    import math

    # 3x2 image, distinct corner colors (row padding: 3*3=9 -> 12 bytes)
    pixels = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    bmp = _make_bmp(3, 2, pixels)
    # 1-channel 8 samples at 8 kHz
    samples = [0, 16384, -16384, 32767, -32768, 8192, -8192, 0]
    wav = _make_wav(8000, 1, samples)
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(wav))], "doc_id long, blob binary"
    )
    rows = {r.doc_id: r for r in MM.decode_media(df, stub=False).collect()}

    img = rows[1]
    assert (img.width, img.height, img.channels) == (3, 2, 3)
    rs = [p[0] for row in pixels for p in row]
    gs = [p[1] for row in pixels for p in row]
    bs = [p[2] for row in pixels for p in row]
    assert abs(img.features[0] - sum(rs) / 6 / 255.0) < 1e-12
    assert abs(img.features[1] - sum(gs) / 6 / 255.0) < 1e-12
    assert abs(img.features[2] - sum(bs) / 6 / 255.0) < 1e-12

    aud = rows[2]
    assert (aud.width, aud.height, aud.channels) == (8, 1, 1)
    assert aud.features[0] == 8000.0
    assert abs(aud.features[1] - 8 / 8000.0) < 1e-12
    x = [s / 32768.0 for s in samples]
    assert abs(aud.features[2] - math.sqrt(sum(v * v for v in x) / 8)) < 1e-12
    assert abs(aud.features[3] - 1.0) < 1e-12  # peak: -32768 sample


def test_decode_media_real_path_unknown_format_is_loud(spark):
    """Formats needing a real media library still fail loudly, naming it."""
    docs = MM.with_blob(load_table(spark, SF_DIR, "documents")).limit(3)
    with pytest.raises(Exception, match="pillow"):
        MM.decode_media(docs, stub=False).collect()


def test_resize_meta(spark):
    docs = MM.with_blob(load_table(spark, SF_DIR, "documents"))
    out = MM.resize_meta(docs, max_side=32)
    bad = out.filter(
        (F.greatest("target_width", "target_height") > 32)
        | (F.col("target_width") <= 0)
        | (F.col("target_height") <= 0)
    )
    assert bad.count() == 0


def test_sample_frames(spark):
    docs = MM.with_blob(load_table(spark, SF_DIR, "documents")).limit(20)
    out = MM.sample_frames(docs, n_frames=4)
    assert out.count() == 20 * 4
    assert out.groupBy("doc_id").count().filter(F.col("count") != 4).count() == 0
    assert out.filter(F.octet_length("frame_blob") == 0).count() == 0

# --- skew ------------------------------------------------------------------


def test_salted_agg_matches_plain(spark):
    from hive_backend_spark.operators import skew as SK

    events = load_table(spark, SF_DIR, "events")
    got = SK.salted_agg(
        events,
        ["event_type"],
        {"n": ("event_id", "count"), "total": ("value", "sum"), "mx": ("ts", "max")},
    )
    want = events.groupBy("event_type").agg(
        F.count("event_id").alias("n"), F.sum("value").alias("total"), F.max("ts").alias("mx")
    )
    g = {tuple(r) for r in got.select("event_type", "n", "mx").collect()}
    w = {tuple(r) for r in want.select("event_type", "n", "mx").collect()}
    assert g == w
    # float sums agree to rounding (summation order differs by design)
    gt = {r.event_type: r.total for r in got.collect()}
    wt = {r.event_type: r.total for r in want.collect()}
    assert all(abs(gt[k] - wt[k]) < 1e-6 for k in wt)


def test_salted_broadcast_join_matches_plain(spark):
    from hive_backend_spark.operators import skew as SK

    events = load_table(spark, SF_DIR, "events")
    dim = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_total"))
    got = SK.salted_broadcast_join(events, dim, "event_type", n_salts=8)
    want = events.join(F.broadcast(dim), "event_type")
    assert got.count() == want.count()
    assert got.select(F.sum("type_total")).collect() == want.select(F.sum("type_total")).collect()


def test_zorder_layout_prunes_box_queries(spark, tmp_path):
    """Z-order vs single-column sort, judged by parquet footer stats: for a
    box predicate on (user_id, event_id), the fraction of files whose
    min/max box intersects the query box must be materially smaller under
    the Z-order layout than under a layout sorted only by user_id — the
    property that turns into file/row-group pruning on any stats-aware
    reader. Also checks the key is a real permutation (no rows lost)."""
    import pyarrow.parquet as pq

    from hive_backend_spark.operators.layout import write_zordered

    events = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "event_type")
    n = events.count()

    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    write_zordered(events, zdir, ["user_id", "event_id"], bits=8, records_per_file=50)
    (
        events.orderBy("user_id")
        .write.option("maxRecordsPerFile", 50)
        .mode("overwrite")
        .parquet(ldir)
    )

    assert spark.read.parquet(zdir).count() == n

    lo = events.agg(F.min("user_id"), F.max("user_id"), F.min("event_id"), F.max("event_id")).collect()[0]
    u_lo, u_hi, e_lo, e_hi = lo
    # a box covering ~1/4 of each dimension
    u_box = (u_lo, u_lo + (u_hi - u_lo) // 4)
    e_box = (e_lo, e_lo + (e_hi - e_lo) // 4)

    def hit_fraction(d):
        import glob
        import os

        files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        assert len(files) >= 8, f"need multiple files for pruning to mean anything: {files}"
        hits = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            stats = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    s = col.statistics
                    name = col.path_in_schema
                    if s is None:
                        continue
                    mn, mx = stats.get(name, (s.min, s.max))
                    stats[name] = (min(mn, s.min), max(mx, s.max))
            if (
                stats["user_id"][0] <= u_box[1]
                and stats["user_id"][1] >= u_box[0]
                and stats["event_id"][0] <= e_box[1]
                and stats["event_id"][1] >= e_box[0]
            ):
                hits += 1
        return hits / len(files)

    z_frac, l_frac = hit_fraction(zdir), hit_fraction(ldir)
    # linear layout: event_id is unclustered, so nearly every file with the
    # right user range ALSO intersects the event_id box; z-order confines
    # the box to a corner of the key space
    assert z_frac < l_frac, f"zorder {z_frac:.2f} not better than linear {l_frac:.2f}"
    assert z_frac <= 0.5, f"zorder layout barely prunes: {z_frac:.2f}"


def test_q36_hll_estimate_within_published_bound(spark, sf_dir):
    """q36's oracle checks a 5x-rsd envelope; here assert the tighter
    published HLL++ bound (rsd=0.01 -> ~3 sigma = 3%) per group."""
    from hive_backend_spark.catalog import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        rel_err = abs(r.approx_users - r.exact_users) / r.exact_users
        assert rel_err <= 0.03, f"{r.event_type}: HLL rel err {rel_err:.4f} > 3%"


def test_winnowing_and_boilerplate_short_doc_guards(spark):
    """The fixture corpus has no short docs, so exercise the n < gram and
    single-window guard branches of q131/q128's expression chains directly:
    docs shorter than the 5-gram emit zero fingerprints (null digest), docs
    with fewer hashes than the window emit exactly one fingerprint, and the
    16-token windower emits one window for any non-empty doc."""
    from pyspark.sql import functions as F

    docs = [
        (1, "a"),                      # 1 token: no 5-grams
        (2, "a b c d"),                # 4 tokens: no 5-grams
        (3, "a b c d e"),              # 5 tokens: 1 gram -> 1 fingerprint
        (4, "a b c d e f g"),          # 7 tokens: 3 grams < window 4 -> 1 fp
        (5, " ".join(f"t{i}" for i in range(20))),  # 20 tokens: 16 grams
    ]
    src = spark.createDataFrame(docs, "doc_id long, text string")
    d = (
        src.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .withColumn("n", F.size("toks"))
        .withColumn(
            "h",
            F.expr(
                "CASE WHEN n >= 5 THEN transform(sequence(0, n - 5),"
                " i -> md5(array_join(slice(toks, i+1, 5), ' '))) END"
            ),
        )
        .withColumn(
            "fps",
            F.expr(
                "CASE WHEN h IS NOT NULL THEN array_sort(array_distinct("
                "transform(sequence(0, greatest(size(h) - 4, 0), 1),"
                " i -> array_min(slice(h, i+1, 4))))) END"
            ),
        )
        .withColumn(
            "n_windows16",
            F.expr("size(sequence(0, CAST(ceil(n / 16.0) AS INT) - 1))"),
        )
        .collect()
    )
    by_id = {r["doc_id"]: r for r in d}
    assert by_id[1]["fps"] is None and by_id[2]["fps"] is None
    assert len(by_id[3]["fps"]) == 1
    assert len(by_id[4]["fps"]) == 1  # 3 hashes, window clamps to one min
    assert 1 <= len(by_id[5]["fps"]) <= 13
    assert all(by_id[i]["n_windows16"] == 1 for i in (1, 2, 3, 4))
    assert by_id[5]["n_windows16"] == 2


# --- pagerank: deep-iteration lineage truncation ---------------------------


def test_pagerank_20_iterations_no_lineage_blowup(spark):
    """20 power-iteration rounds must complete with bounded plan depth (the
    rank vector is checkpointed every 4 rounds) and conserve rank mass: on
    a symmetric graph with no dangling nodes, total rank sums to 1 at every
    iteration, so the drift bound is pure float noise. Before rank-vector
    checkpointing this depth of lineage made Catalyst re-optimize a plan
    that grew linearly per round."""
    from hive_backend_spark.queries.similarity import pagerank

    pairs = [(i, i + 1) for i in range(20)] + [(0, 10), (5, 15), (3, 18)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    rows = pagerank(edges, iters=20, checkpoint_every=4).collect()
    assert len(rows) == 21
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    assert all(r["rank"] > 0 for r in rows)


# --- IVF-cell blocking: block sizes bounded by the quantizer ---------------


def test_ivf_cell_blocking_bounded(spark):
    """q71/q116's pair-scoring blocks come from nearest-centroid assignment,
    so block size must be governed by the coarse quantizer's cell structure:
    several cells, none holding more than a small multiple of the balanced
    share. This is the memory bound that lets one BLAS matmul per block run
    in bounded worker memory at any corpus size (oversized cells at scale
    mean raising k / splitting cells, not a different plan)."""
    from hive_backend_spark.queries.similarity import _ivf_assign

    assigned = _ivf_assign(spark, SF_DIR)
    sizes = [r["cnt"] for r in assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cnt")).collect()]
    n, k = sum(sizes), len(sizes)
    assert k >= 2, f"quantizer produced {k} cell(s)"
    assert max(sizes) <= max(3 * n // k, 32), (
        f"hot cell breaks the bounded-block contract: sizes={sorted(sizes)}"
    )


def test_ivf_hot_cell_split_bounds_blocks():
    """round-12 (closing r11's one `weak`): the two-level quantizer must
    bound the BLOCKING key's population at scale. At sf0.1 every coarse
    cell holds ~200 vectors (> _SPLIT_CAP=128), so the split must engage
    (b >= 1 everywhere), every subcell must nest inside its coarse cell,
    the split must be near-balanced (Walsh-sign bits over mean-centered
    integer projections), and no subcell may exceed ~2x the cap. At
    sf0.001 (cells far under cap) the split must be DORMANT: subcell ==
    cell << _SPLIT_MAXB, so the driver-gate semantics are unchanged."""
    from hive_backend_spark.queries.similarity import (
        _SPLIT_CAP,
        _SPLIT_MAXB,
        _ivf_assign,
        _ivf_split_stats,
        _split_bits,
    )
    from hive_backend_spark.session import get_spark

    spark = get_spark()
    # integer-loop b: exact boundaries
    assert [_split_bits(c) for c in (1, 128, 129, 256, 257, 512, 10**9)] == [
        0, 0, 1, 1, 2, 2, _SPLIT_MAXB,
    ]

    # dormant at sf0.001
    small = _ivf_assign(spark, SF_DIR).select("cell", "subcell").collect()
    assert all(r["subcell"] == r["cell"] << _SPLIT_MAXB for r in small)

    # engaged at sf0.1
    sf = "/root/testdata/sf0.1"
    stats = _ivf_split_stats(spark, sf)
    assert all(b >= 1 for _, b, _s in stats.values()), stats
    rows = _ivf_assign(spark, sf).groupBy("cell", "subcell").count().collect()
    by_cell = {}
    for r in rows:
        assert r["subcell"] >> _SPLIT_MAXB == r["cell"], "subcell escapes its cell"
        by_cell.setdefault(r["cell"], []).append(r["count"])
    for cell, sizes in by_cell.items():
        cnt, b, _sums = stats[cell]
        assert len(sizes) <= 1 << b
        assert sum(sizes) == cnt
        # near-balanced: no subcell holds more than ~2x the cap
        assert max(sizes) <= 2 * _SPLIT_CAP, (
            f"cell {cell} split unbalanced: {sorted(sizes)}"
        )


def test_ivf_split_engaged_oracle_parity():
    """Cross-engine pin for the split branch: the driver's correctness
    gate runs at sf0.01 where every cell is under cap (split dormant), so
    this test replays the exact driver comparison for q71 at sf0.1 —
    where EVERY cell splits (b=1) — proving the oracle's integer Walsh
    bits reproduce _ivf_assign's subcells bit-for-bit on real data."""
    import duckdb

    from hive_backend_spark.registry import all_queries
    from hive_backend_spark.session import get_spark
    from tests.conftest import normalize_rows

    sf = "/root/testdata/sf0.1"
    spark = get_spark()
    con = duckdb.connect()
    for t in ("embeddings",):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    spec = all_queries()["q71_near_dup_pairs"]
    sdf = spec.fn(spark, sf)
    got = normalize_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    con.execute(spec.oracle)
    want = normalize_rows([d[0] for d in con.description], con.fetchall())
    assert len(got) > 0, "vacuous: no near-dup pairs at sf0.1"
    assert got == want


# --- kmeans_train (operators/clustering) -----------------------------------


def _km_vecs(spark):
    from hive_backend_spark.catalog import load_table

    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _km_seed(spark, k):
    import numpy as np

    rows = _km_vecs(spark).orderBy("vec_id").limit(k).collect()
    return np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])


def test_kmeans_inertia_monotone_and_fixpoint(spark):
    """Lloyd invariants: inertia never increases round-over-round (both
    the assignment and the update step can only lower J), and re-seeding
    from a converged centroid matrix moves zero vectors with zero shift
    in its first round (assignment fixpoint is stable)."""
    from hive_backend_spark.operators.clustering import kmeans_train

    vecs = _km_vecs(spark)
    cents, history = kmeans_train(
        vecs, _km_seed(spark, 6), max_iter=60, tol=0.0, strict=True
    )
    assert len(history) >= 1
    inertias = [h.inertia for h in history]
    assert all(a >= b - 1e-9 for a, b in zip(inertias, inertias[1:])), inertias
    assert history[-1].n_moved == 0 or history[-1].max_shift == 0.0

    _, rerun = kmeans_train(vecs, cents, max_iter=1, tol=0.0, strict=False)
    assert rerun[0].n_moved == 0
    assert rerun[0].max_shift == 0.0


def test_kmeans_empty_cell_keeps_centroid(spark):
    """A seed so far from the data that it captures no members must keep
    its centroid verbatim instead of collapsing to NaN."""
    import numpy as np

    from hive_backend_spark.operators.clustering import kmeans_train

    seed = _km_seed(spark, 4)
    seed[3] = 1e6  # nobody's nearest centroid
    cents, history = kmeans_train(
        _km_vecs(spark), seed, max_iter=5, min_iter=5, tol=0.0, strict=False
    )
    assert np.array_equal(cents[3], seed[3])
    assert np.isfinite(cents).all()


def test_kmeans_nonconvergence_raises(spark):
    """strict mode must raise loudly when the budget is exhausted before
    convergence — never hand back a silently-unconverged model."""
    from hive_backend_spark.operators.clustering import kmeans_train

    with pytest.raises(RuntimeError, match="did not converge"):
        kmeans_train(_km_vecs(spark), _km_seed(spark, 6), max_iter=1, tol=0.0)


def test_decode_media_real_png(spark):
    """stub=False REALLY decodes 8-bit non-interlaced PNG through the Arrow
    map task: gray / RGB / RGBA blobs built by the stdlib encoder with a
    per-row mix of ALL FIVE scanline filters (None/Sub/Up/Average/Paeth)
    come back with exact hand-computed channel means; an external
    known-good 1x1 PNG (not produced by our encoder) parses too, ruling
    out encoder/decoder symmetric bugs."""
    import base64

    import numpy as np

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=(7, 5), dtype=np.uint8)
    rgb = rng.randint(0, 256, size=(6, 9, 3), dtype=np.uint8)
    rgba = rng.randint(0, 256, size=(5, 5, 4), dtype=np.uint8)
    filt = [0, 1, 2, 3, 4, 2, 1]  # exercise every defilter branch
    blobs = [
        (1, bytearray(MM.encode_png(gray, filters=filt))),
        (2, bytearray(MM.encode_png(rgb, filters=filt[:6]))),
        (3, bytearray(MM.encode_png(rgba, filters=filt[:5]))),
        # canonical minimal external PNG (1x1 RGBA)
        (
            4,
            bytearray(
                base64.b64decode(
                    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42m"
                    "NkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
                )
            ),
        ),
    ]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    rows = {r.doc_id: r for r in MM.decode_media(df, stub=False).collect()}

    g = rows[1]
    assert (g.width, g.height, g.channels) == (5, 7, 1)
    want = gray.astype(float).mean() / 255.0
    assert all(abs(g.features[i] - want) < 1e-12 for i in range(3))

    c = rows[2]
    assert (c.width, c.height, c.channels) == (9, 6, 3)
    for i in range(3):
        assert abs(c.features[i] - rgb[..., i].astype(float).mean() / 255.0) < 1e-12

    a = rows[3]
    assert (a.width, a.height, a.channels) == (5, 5, 4)
    for i in range(3):
        assert abs(a.features[i] - rgba[..., i].astype(float).mean() / 255.0) < 1e-12

    ext = rows[4]
    assert (ext.width, ext.height, ext.channels) == (1, 1, 4)


def test_decode_png_unsupported_variants_are_loud():
    """Palette / 16-bit / interlaced PNGs raise naming pillow, never decode
    garbage silently."""
    import struct
    import zlib

    import pytest as _pytest

    from hive_backend_spark.operators.multimodal import _PNG_MAGIC, _decode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    for depth, colortype, interlace in [(16, 2, 0), (8, 3, 0), (8, 2, 1)]:
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, colortype, 0, 0, interlace)
        blob = (
            _PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with _pytest.raises(NotImplementedError, match="pillow"):
            _decode_png(blob)


def test_decode_png_zero_dimension_is_loud():
    """A crafted IHDR with width or height 0 (invalid per spec) must raise,
    not emit NaN feature rows into downstream aggregates."""
    import struct
    import zlib

    import pytest as _pytest

    from hive_backend_spark.operators.multimodal import _PNG_MAGIC, _decode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    for w, h in [(0, 3), (3, 0)]:
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        blob = (
            _PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * h))
            + chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="zero dimension"):
            _decode_png(blob)


def test_decode_wav_odd_chunk_padding_walk():
    """The RIFF chunk walk must honor even-padding on ODD-sized chunks: a
    WAV with an odd-length junk chunk before fmt/data (pad byte after it)
    still decodes. encode_wav never produces odd chunks (16-bit samples),
    so this exercises the decoder path with a hand-built raw fixture."""
    import struct

    import numpy as np

    from hive_backend_spark.operators.multimodal import _decode_wav, encode_wav

    samples = np.array([0, 16384, -16384, 32767], dtype="<i2")
    std = encode_wav(samples, 8000, 1)
    # splice an odd-sized LIST chunk (size 3 -> 1 pad byte) after WAVE
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = std[12:]  # fmt+data chunks
    raw = b"RIFF" + struct.pack("<I", 4 + len(junk) + len(body)) + b"WAVE" + junk + body
    d = _decode_wav(raw)
    assert (d["width"], d["channels"]) == (4, 1)
    assert abs(d["features"][3] - 32767 / 32768.0) < 1e-15


def test_resize_media_real_pixels(spark):
    """resize_media: PNG and BMP blobs downscale by nearest-neighbor to the
    aspect-preserving max_side cap inside the map task, re-encoded as PNG;
    the resized pixels equal the numpy index-gather reference, a small
    image is NOT upscaled, and a non-decodable blob fails loudly."""
    import numpy as np
    import pytest as _pytest

    from hive_backend_spark.operators.multimodal import _png_pixels

    rng = np.random.RandomState(5)
    big = rng.randint(0, 256, (40, 60, 3), dtype=np.uint8)    # lands 8x12? no: cap 16 -> 11x16
    small = rng.randint(0, 256, (6, 4, 3), dtype=np.uint8)    # under cap: untouched dims
    bmp_px = [[(r * 3 % 256, r * 5 % 256, c * 7 % 256) for c in range(20)] for r in range(30)]
    df = spark.createDataFrame(
        [
            (1, bytearray(MM.encode_png(big, filters=4))),
            (2, bytearray(MM.encode_png(small))),
            (3, bytearray(_make_bmp(20, 30, bmp_px))),
        ],
        "doc_id long, blob binary",
    )
    rows = {r.doc_id: r for r in MM.resize_media(df, max_side=16).collect()}

    r1 = rows[1]
    assert (r1.width, r1.height) == (60, 40)
    assert (r1.target_width, r1.target_height) == (16, 11)  # 16/60 scale
    got = _png_pixels(bytes(r1.resized_blob))
    ys = (np.arange(11) * 40) // 11
    xs = (np.arange(16) * 60) // 16
    assert (got == big[ys][:, xs]).all()

    r2 = rows[2]
    assert (r2.target_width, r2.target_height) == (4, 6)  # never upscaled
    assert (_png_pixels(bytes(r2.resized_blob)) == small).all()

    r3 = rows[3]
    assert (r3.width, r3.height) == (20, 30)
    assert (r3.target_width, r3.target_height) == (11, 16)
    want = np.array(bmp_px, dtype=np.uint8)  # rows are (r,g,b) tuples
    ys = (np.arange(16) * 30) // 16
    xs = (np.arange(11) * 20) // 11
    assert (_png_pixels(bytes(r3.resized_blob)) == want[ys][:, xs]).all()

    bad = spark.createDataFrame([(9, bytearray(b"JUNKDATA"))], "doc_id long, blob binary")
    with pytest.raises(Exception, match="pillow"):
        MM.resize_media(bad, max_side=16).collect()


def test_audio_features_integer_exact(spark):
    """audio_features: ZCR / DC sum / energy computed on raw int16 samples
    in int64 must equal the hand-computed values for a known signal —
    including the strictness of the sign-change rule (a zero sample kills
    both adjacent products, so [..,-1,0,1,..] counts ZERO crossings)."""
    import numpy as np

    from hive_backend_spark.operators.multimodal import audio_features, encode_wav

    s = np.array([100, -200, 300, 0, -400, 500], dtype="<i2")
    df = spark.createDataFrame([(1, bytearray(encode_wav(s, 8000, 1)))], "doc_id bigint, blob binary")
    row = audio_features(df).collect()[0]
    x = s.astype(np.int64)
    assert row["n_frames"] == 6 and row["sample_rate"] == 8000
    assert row["zcr"] == int(np.sum(x[:-1] * x[1:] < 0)) == 3
    assert row["dc_sum"] == int(x.sum()) == 300
    assert row["energy"] == int((x * x).sum())

    # stereo: ZCR must compare consecutive samples of the SAME channel
    # (de-interleaved), never L against R. L = [100, -100, 100] crosses
    # twice; R = [50, 50, 50] never — but the raw interleaved stream
    # [100, 50, -100, 50, 100, 50] sign-changes at every L|R boundary.
    st = np.array([100, 50, -100, 50, 100, 50], dtype="<i2")
    df2 = spark.createDataFrame(
        [(2, bytearray(encode_wav(st, 8000, 2)))], "doc_id bigint, blob binary"
    )
    row2 = audio_features(df2).collect()[0]
    assert row2["n_frames"] == 3
    assert row2["zcr"] == 2  # L-channel crossings only
    assert row2["dc_sum"] == int(st.astype(np.int64).sum())
    assert row2["energy"] == int((st.astype(np.int64) ** 2).sum())


def test_decimate_audio_roundtrip(spark):
    """decimate_audio: the decimated blob is REAL WAV (decodable), keeps
    every factor-th sample exactly, and halves the sample rate."""
    import numpy as np

    from hive_backend_spark.operators.multimodal import (
        _wav_samples,
        decimate_audio,
        encode_wav,
    )

    s = (np.arange(10) * 1000 - 4500).astype("<i2")
    df = spark.createDataFrame([(7, bytearray(encode_wav(s, 8000, 1)))], "doc_id bigint, blob binary")
    out = decimate_audio(df, factor=2).collect()[0]
    samples, rate, channels = _wav_samples(bytes(out["blob"]))
    assert rate == 4000 and channels == 1
    assert np.array_equal(samples, s[::2])


def test_gif_lzw_codec_roundtrip_and_known_stream():
    """The hand-written GIF LZW codec: (1) a hand-computed bitstream for
    [0,1,1,0] at min-code-size 2 — CLEAR(3b) 0(3b) 1(3b) then the width
    bump to 4 bits exactly when the decoder's lagged table hits 2^w - 1 —
    packs to 44 02 0a; (2) decode(encode(x)) over dictionary-heavy runs,
    the KwKwK special case, and a 20k-symbol stream that fills the 4096
    table and re-CLEARs mid-stream."""
    import numpy as np

    from hive_backend_spark.operators.multimodal import (
        _gif_pixels,
        _lzw_compress,
        _lzw_decompress,
        encode_gif,
    )

    assert _lzw_compress([0, 1, 1, 0], 2) == bytes([0x44, 0x02, 0x0A])
    assert _lzw_decompress(bytes([0x44, 0x02, 0x0A]), 2) == [0, 1, 1, 0]

    assert _lzw_decompress(_lzw_compress([1] * 500, 2), 2) == [1] * 500  # KwKwK

    rng = np.random.RandomState(7)
    for npal in (3, 16, 200, 256):
        pal = rng.randint(0, 256, size=(npal, 3)).astype(np.uint8)
        idx = rng.randint(0, npal, size=(17, 23))
        assert (_gif_pixels(encode_gif(idx, pal)) == pal[idx]).all()
    # table-full + re-clear path (> 4096 dictionary entries)
    idx = np.array([(i * 7 + (i // 3) * 5) % 256 for i in range(20000)]).reshape(
        100, 200
    )
    pal = (np.arange(256 * 3, dtype=np.int64) % 251).astype(np.uint8).reshape(256, 3)
    assert (_gif_pixels(encode_gif(idx, pal)) == pal[idx]).all()


def test_decode_media_real_gif(spark):
    """decode_media(stub=False) dispatches GIF blobs to the real LZW
    decoder and emits the shared (dims, channel-mean) convention."""
    import numpy as np

    from hive_backend_spark.operators import multimodal as MM

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [0, 0, 0]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 3]])
    df = spark.createDataFrame(
        [(1, bytearray(MM.encode_gif(idx, pal)))], "doc_id bigint, blob binary"
    )
    row = MM.decode_media(df, stub=False).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (2, 2, 3)
    feats = row["features"]
    assert abs(feats[0] - (255 / 4) / 255.0) < 1e-12  # mean R
    assert abs(feats[1] - (255 / 4) / 255.0) < 1e-12  # mean G
    assert abs(feats[2] - (255 / 4) / 255.0) < 1e-12  # mean B


def test_jpeg_codec_roundtrips():
    """The stdlib baseline JPEG codec (operators/jpeg): block-constant
    grayscale with all-ones quantization roundtrips BIT-EXACTLY (DC-only
    blocks — the property q328's oracle check rides on); random gray /
    RGB 4:4:4 stay within the float-rounding bound; 4:2:0 subsampling and
    DRI/RSTn restart markers decode within the chroma-averaging bound;
    structurally-invalid progressive relabels raise loudly."""
    import numpy as np
    import pytest as _pytest

    from hive_backend_spark.operators.jpeg import _jpeg_pixels, encode_jpeg

    rng = np.random.RandomState(3)
    vals = rng.randint(0, 256, size=(3, 4))
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    assert (_jpeg_pixels(encode_jpeg(img)) == img).all()  # bit-exact

    g = rng.randint(0, 256, size=(21, 35)).astype(np.uint8)
    assert np.abs(_jpeg_pixels(encode_jpeg(g)).astype(int) - g).max() <= 2

    c = rng.randint(0, 256, size=(17, 19, 3)).astype(np.uint8)
    assert np.abs(_jpeg_pixels(encode_jpeg(c)).astype(int) - c).max() <= 4

    yy, xx = np.meshgrid(np.arange(37), np.arange(45), indexing="ij")
    smooth = np.stack(
        [yy * 2 + xx * 2, 30 + yy + xx * 2, 200 - yy * 2 - xx], axis=2
    ).astype(np.uint8)
    out = _jpeg_pixels(encode_jpeg(smooth, subsample420=True))
    assert out.shape == smooth.shape
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 8

    blob = encode_jpeg(g, restart_interval=3)
    assert b"\xff\xdd" in blob and b"\xff\xd0" in blob
    assert np.abs(_jpeg_pixels(blob).astype(int) - g).max() <= 2

    # lossy quantization on a smooth gradient stays visually tight
    q = np.clip(np.arange(64).reshape(8, 8) + 10, 1, 255)
    s2 = ((yy * 2 + xx * 3) % 200).astype(np.uint8)
    assert np.abs(
        _jpeg_pixels(encode_jpeg(s2, quant=q)).astype(int) - s2
    ).max() <= 48

    # a baseline file RELABELED as SOF2 is malformed progressive (its one
    # scan spans Ss=0..Se=63, which T.81 forbids in a progressive frame):
    # the real SOF2 path (test_progressive_jpeg_matches_baseline) must
    # reject it loudly rather than half-decode it
    prog = bytearray(encode_jpeg(g))
    i = prog.index(b"\xff\xc0")
    prog[i + 1] = 0xC2  # flip SOF0 -> SOF2
    with _pytest.raises(ValueError, match="mixes DC and AC"):
        _jpeg_pixels(bytes(prog))


def test_decode_media_real_jpeg(spark):
    """decode_media(stub=False) dispatches JPEG blobs to the baseline
    decoder: a block-constant gray image decodes bit-exactly, so the
    emitted mean equals the analytic block mean."""
    import numpy as np

    from hive_backend_spark.operators import multimodal as MM
    from hive_backend_spark.operators.jpeg import encode_jpeg

    vals = np.array([[10, 200], [60, 130]])
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(img)))], "doc_id bigint, blob binary"
    )
    row = MM.decode_media(df, stub=False).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (16, 16, 1)
    assert abs(row["features"][3] - vals.mean() / 255.0) < 1e-12


def test_jpeg_parser_tolerates_fill_bytes_and_tem():
    """Legal inter-segment noise real encoders emit: repeated 0xFF fill
    bytes and the standalone TEM (0x01) marker carry no length field and
    must be skipped, not parsed as segments."""
    import numpy as np

    from hive_backend_spark.operators.jpeg import _jpeg_pixels, encode_jpeg

    rng = np.random.RandomState(5)
    vals = rng.randint(0, 256, size=(2, 3))
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    blob = encode_jpeg(img)
    noisy = blob[:20] + b"\xff\xff\xff\x01" + blob[20:]  # after APP0
    assert (_jpeg_pixels(noisy) == img).all()


def test_mp4_box_walker_roundtrips_and_raises():
    """operators/mp4: the ISO-BMFF walker recovers every encoded container
    fact through both the version-0 (32-bit) and version-1 (64-bit)
    mvhd/mdhd layouts, and every truncation class fails the codec's
    ValueError contract ('raise loudly, name the problem'), never a raw
    IndexError/struct.error."""
    import pytest as _pytest

    from hive_backend_spark.operators.mp4 import encode_mp4_skeleton, mp4_structure

    tracks = [("vide", "avc1", 12288, 86016), ("soun", "mp4a", 48000, 336000)]
    for version in (0, 1):
        blob = encode_mp4_skeleton(600, 4242, tracks, mdat_len=33, version=version)
        m = mp4_structure(blob)
        assert m["major_brand"] == "isom"
        assert (m["timescale"], m["duration"], m["n_tracks"]) == (600, 4242, 2)
        assert m["duration_s"] == 4242 / 600
        assert [t["codec"] for t in m["tracks"]] == ["avc1", "mp4a"]
        assert [t["handler"] for t in m["tracks"]] == ["vide", "soun"]
        assert [t["timescale"] for t in m["tracks"]] == [12288, 48000]
        assert m["mdat_bytes"] == 33
    for cut in (3, 10, 40, len(blob) - 5):
        with _pytest.raises(ValueError):
            mp4_structure(blob[:cut])
    with _pytest.raises(ValueError):
        mp4_structure(b"\x00\x00\x00\x08free")  # no ftyp
    # size==0 ("to end of file") on the LAST box is legal per spec
    tail = encode_mp4_skeleton(600, 100, tracks[:1], mdat_len=5)
    idx = tail.rindex(b"mdat") - 4
    open_ended = tail[:idx] + b"\x00\x00\x00\x00" + tail[idx + 4 :]
    assert mp4_structure(open_ended)["mdat_bytes"] == 5


def test_mp3_frame_walker_cbr_vbr_and_raises():
    """operators/mp3: frame walk recovers count/rate/bitrates, the exact
    duration is frame-count-based (identical for CBR and VBR at equal
    frame count and sample rate), the naive header-extrapolated duration
    drifts exactly on VBR, and truncation/sync damage raises ValueError."""
    import pytest as _pytest

    from hive_backend_spark.operators.mp3 import (
        SAMPLES_PER_FRAME,
        encode_mp3_frames,
        frame_length,
        mp3_structure,
    )

    cbr = mp3_structure(encode_mp3_frames([(9, 0, i % 2) for i in range(6)]))
    assert cbr["is_cbr"] and cbr["n_frames"] == 6
    assert cbr["sample_rate"] == 44100 and cbr["bitrate_first_kbps"] == 128
    assert cbr["duration_s"] == 6 * SAMPLES_PER_FRAME / 44100
    assert cbr["total_bytes"] == sum(frame_length(128, 44100, i % 2) for i in range(6))

    vbr = mp3_structure(encode_mp3_frames([(1 + (3 + i) % 14, 1, 0) for i in range(5)]))
    assert not vbr["is_cbr"]
    assert vbr["duration_s"] == 5 * SAMPLES_PER_FRAME / 48000  # bitrate-free
    assert abs(vbr["naive_cbr_duration_s"] - vbr["duration_s"]) > 0.01

    blob = encode_mp3_frames([(9, 0, 0), (9, 0, 0)])
    for bad in (blob[:2], blob[:10], blob[: len(blob) - 3], b"\x12" + blob[1:]):
        with _pytest.raises(ValueError):
            mp3_structure(bad)


def test_jpeg_truncation_raises_value_error():
    """operators/jpeg round-10 hardening: a truncated or malformed blob
    fails with the codec's ValueError contract at EVERY cut point — never
    an IndexError from raw byte indexing (the r9 ADVICE defect)."""
    import numpy as np
    import pytest as _pytest

    from hive_backend_spark.operators.jpeg import _jpeg_pixels, encode_jpeg

    img = np.full((8, 8), 77, dtype=np.uint8)
    blob = encode_jpeg(img)
    for cut in range(2, len(blob) - 1):
        try:
            got = _jpeg_pixels(blob[:cut])
        except (ValueError, NotImplementedError):
            continue
        # a cut that only drops trailing EOI bytes AFTER complete scan
        # data may legally decode — but then it must decode CORRECTLY
        assert (got == img).all(), f"cut {cut}: silent wrong decode"


def test_progressive_jpeg_matches_baseline():
    """operators/jpeg round-10: the SOF2 progressive path (spectral
    selection + successive approximation, G.1.2) decodes bit-identically
    to the baseline twin of the same input on every supported shape —
    block-constant (bit-exact vs source), random gray, RGB 4:4:4, real
    quantization, and non-multiple-of-8 dimensions. The encoder companion
    emits all four progressive scan classes (DC first/refine, AC
    first/refine with EOBRUN + correction bits), so a pass here exercises
    each decode branch."""
    import numpy as np

    from hive_backend_spark.operators.jpeg import (
        _jpeg_pixels,
        encode_jpeg,
        encode_progressive_jpeg,
    )

    rng = np.random.RandomState(42)
    vals = rng.randint(0, 256, (3, 4)).astype(np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    assert (_jpeg_pixels(encode_progressive_jpeg(img)) == img).all()

    g = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    assert (
        _jpeg_pixels(encode_progressive_jpeg(g)) == _jpeg_pixels(encode_jpeg(g))
    ).all()

    c = rng.randint(0, 256, (16, 24, 3)).astype(np.uint8)
    assert (
        _jpeg_pixels(encode_progressive_jpeg(c)) == _jpeg_pixels(encode_jpeg(c))
    ).all()

    q = np.full((8, 8), 4, dtype=int)
    q[0, 0] = 2
    assert (
        _jpeg_pixels(encode_progressive_jpeg(g, quant=q))
        == _jpeg_pixels(encode_jpeg(g, quant=q))
    ).all()

    o = rng.randint(0, 256, (13, 21)).astype(np.uint8)
    assert (
        _jpeg_pixels(encode_progressive_jpeg(o)) == _jpeg_pixels(encode_jpeg(o))
    ).all()

    # progressive truncation keeps the ValueError contract too
    import pytest as _pytest

    blob = encode_progressive_jpeg(img)
    for cut in (3, 25, len(blob) // 2, len(blob) - 10):
        with _pytest.raises((ValueError, NotImplementedError)):
            _jpeg_pixels(blob[:cut])


def test_warc_walker_roundtrips_and_raises():
    """operators/warc: encode->gzip-member-split->parse recovers every
    record fact in both layouts (per-record gzip members a la Common
    Crawl, and raw); truncation at any framing layer raises ValueError."""
    import pytest as _pytest

    from hive_backend_spark.operators.warc import encode_warc, parse_warc

    recs = [
        ("request", "http://ex.com/a", 0, b"GET /a HTTP/1.1\r\n\r\n"),
        ("response", "http://ex.com/a", 200, b"<html>hello</html>"),
        ("response", "http://ex.com/b", 404, b"nope"),
        ("metadata", "http://ex.com/a", 0, b"fetch-ms: 12"),
    ]
    blob = encode_warc(recs)
    parsed = parse_warc(blob)
    assert [r["type"] for r in parsed] == ["request", "response", "response", "metadata"]
    assert [r["http_status"] for r in parsed] == [None, 200, 404, None]
    assert parsed[1]["payload_bytes"] == 18 and parsed[2]["payload_bytes"] == 4
    assert parse_warc(encode_warc(recs, gzip_members=False), gzip_members=False) == parsed
    for cut in (1, 10, len(blob) // 2, len(blob) - 3):
        with _pytest.raises(ValueError):
            parse_warc(blob[:cut])


def test_warc_truncation_sweep_and_malformed_http():
    """operators/warc round-11 hardening (r10 verdict nit #1): EVERY cut
    point of both layouts either raises the module's named-cause
    ValueError or parses a correct record prefix (cuts on record/member
    boundaries are legal EOFs) — the JPEG-walker sweep discipline — and
    the malformed embedded-HTTP edges fail loudly instead of silently
    truncating the status line."""
    import pytest as _pytest

    from hive_backend_spark.operators.warc import (
        CRLF,
        _parse_record,
        encode_warc,
        parse_warc,
    )

    recs = [
        ("response", "http://ex.com/a", 200, b"<html>hi</html>"),
        ("metadata", "http://ex.com/a", 0, b"k: v"),
        ("response", "http://ex.com/b", 503, b"busy"),
    ]
    for gz in (True, False):
        blob = encode_warc(recs, gzip_members=gz)
        full = parse_warc(blob, gzip_members=gz)
        assert len(full) == 3
        for cut in range(1, len(blob)):
            try:
                got = parse_warc(blob[:cut], gzip_members=gz)
            except ValueError:
                continue
            assert got == full[: len(got)], f"gz={gz} cut={cut}: wrong prefix"

    def raw_record(body: bytes) -> bytes:
        head = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: response" + CRLF
            + b"WARC-Target-URI: http://ex.com/x" + CRLF
            + f"Content-Length: {len(body)}".encode() + CRLF
            + CRLF
        )
        return head + body + CRLF + CRLF

    # status line with no CRLF anywhere in the body: pre-fix this sliced
    # body[:-1] (find's sentinel) and fed a truncated token to int()
    with _pytest.raises(ValueError, match="no CRLF"):
        _parse_record(raw_record(b"HTTP/1.1 200"))
    # non-numeric status token: named-cause ValueError, not bare int() noise
    with _pytest.raises(ValueError, match="non-numeric status"):
        _parse_record(raw_record(b"HTTP/1.1 OK fine" + CRLF + CRLF))
    # a bare version token (no status at all) is tolerated as status=None
    rec = _parse_record(raw_record(b"HTTP/1.1" + CRLF + CRLF + b"x"))
    assert rec["http_status"] is None and rec["type"] == "response"


def test_tar_octal_overflow_raises():
    """operators/tar round-11 (r10 advice): a size that does not fit the
    12-byte ustar octal field raises ValueError instead of silently
    growing the 512-byte header block and shifting every later field."""
    import pytest as _pytest

    from hive_backend_spark.operators.tar import _header, _octal

    assert _octal(8**11 - 1, 12) == b"77777777777\x00"
    with _pytest.raises(ValueError, match="octal field"):
        _octal(8**11, 12)
    with _pytest.raises(ValueError, match="octal field"):
        _header("big.bin", 8**11, b"0", 0)
    assert len(_header("ok.bin", 8**11 - 1, b"0", 0)) == 512


def test_id3_walker_both_grammars_and_mp3_skip():
    """operators/id3: v2.3 (plain sizes) and v2.4 (synchsafe sizes) tags
    parse identically, text frames decode, padding is skipped, and the
    frame walker behind the tag sees clean sync after id3_tag_size."""
    import pytest as _pytest

    from hive_backend_spark.operators.id3 import (
        encode_id3v2,
        id3_tag_size,
        parse_id3v2,
    )
    from hive_backend_spark.operators.mp3 import encode_mp3_frames, mp3_structure

    audio = encode_mp3_frames([(9, 0, 0)] * 4)
    for ver in (3, 4):
        tag = encode_id3v2(
            [("TIT2", "Song Title"), ("TALB", "An Album")], version=ver, padding=13
        )
        blob = tag + audio
        p = parse_id3v2(blob)
        assert p["version"] == ver and p["tag_bytes"] == len(tag)
        assert p["frames"] == {"TIT2": "Song Title", "TALB": "An Album"}
        assert mp3_structure(blob[id3_tag_size(blob) :])["n_frames"] == 4
        # an UNskipped tag must fail the sync contract, loudly
        with _pytest.raises(ValueError, match="sync"):
            mp3_structure(blob)
    assert parse_id3v2(audio) == {"version": 0, "tag_bytes": 0, "frames": {}}
    with _pytest.raises(ValueError):
        parse_id3v2(tag[:12])


def test_zip_walker_interop_crc_and_raises():
    """operators/zip: two-way stdlib interop (our archives read in
    zipfile, zipfile archives read here), CRC audit flags a corrupted
    member, truncation raises."""
    import io
    import zipfile

    import pytest as _pytest

    from hive_backend_spark.operators.zip import encode_zip, parse_zip

    entries = [("a.txt", b"hello world" * 20, 8), ("b.bin", bytes(range(100)), 0)]
    blob = encode_zip(entries)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.namelist() == ["a.txt", "b.bin"]
    assert zf.read("a.txt") == b"hello world" * 20
    ours = parse_zip(blob)
    assert [(e["name"], e["method"], e["usize"], e["crc_ok"]) for e in ours] == [
        ("a.txt", 8, 220, True),
        ("b.bin", 0, 100, True),
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("x.txt", "some text content here")
    assert [(e["name"], e["crc_ok"]) for e in parse_zip(buf.getvalue())] == [
        ("x.txt", True)
    ]
    bad = bytearray(blob)
    bad[40] ^= 0xFF  # flip a byte inside a.txt's deflate stream
    assert [e["crc_ok"] for e in parse_zip(bytes(bad))] == [False, True]
    for cut in (5, 40, len(blob) - 10):
        with _pytest.raises(ValueError):
            parse_zip(blob[:cut])


def test_tar_walker_interop_checksum_and_raises():
    """operators/tar: ustar octal fields, the space-substitution header
    checksum (corruption flips checksum_ok), 512 padding, the two-block
    terminator, the gzip envelope; two-way stdlib tarfile interop."""
    import io
    import tarfile
    import zlib

    import pytest as _pytest

    from hive_backend_spark.operators.tar import encode_tar, parse_tar

    entries = [
        ("data/", None),
        ("data/a.txt", b"hello" * 30),
        ("data/b.txt", b"x" * 512),
        ("c.bin", bytes(range(7))),
    ]
    blob = encode_tar(entries)
    parsed = parse_tar(blob)
    assert [(e["name"], e["type"], e["size"]) for e in parsed] == [
        ("data/", "dir", 0),
        ("data/a.txt", "file", 150),
        ("data/b.txt", "file", 512),
        ("c.bin", "file", 7),
    ]
    assert all(e["checksum_ok"] for e in parsed)

    tf = tarfile.open(fileobj=io.BytesIO(blob), mode="r:gz")
    assert tf.getnames() == ["data", "data/a.txt", "data/b.txt", "c.bin"]
    assert tf.extractfile("data/a.txt").read() == b"hello" * 30

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as t:
        ti = tarfile.TarInfo("z.txt")
        data = b"stdlib tar content"
        ti.size = len(data)
        t.addfile(ti, io.BytesIO(data))
    assert [(e["name"], e["checksum_ok"]) for e in parse_tar(buf.getvalue())] == [
        ("z.txt", True)
    ]

    for cut in (10, len(blob) // 2):
        with _pytest.raises(ValueError):
            parse_tar(blob[:cut])
    raw = zlib.decompressobj(16 + zlib.MAX_WBITS).decompress(blob)
    bad = bytearray(raw)
    bad[20] ^= 0x01
    assert [e["checksum_ok"] for e in parse_tar(bytes(bad), gzipped=False)] == [
        False, True, True, True,
    ]
    with _pytest.raises(ValueError, match="terminator"):
        parse_tar(raw[: len(raw) - 600], gzipped=False)


def test_parquet_writer_cross_engine_roundtrip(tmp_path):
    """operators/parquet_meta round-11: encode_parquet emits REAL parquet —
    DuckDB and pyarrow (two independent readers) recover the values
    exactly, and DuckDB's parquet_metadata agrees with the footer my
    writer wrote (row groups, row counts, statistics). This is what makes
    the q336 walk a cross-engine check instead of a self-fulfilling one."""
    import duckdb
    import pyarrow.parquet as pq

    from hive_backend_spark.operators.parquet_meta import encode_parquet

    blob = encode_parquet(
        [("id", "INT64"), ("payload", "BYTE_ARRAY")],
        [
            [[5, -3, 12], [b"aa", b"zz", b"m"]],
            [[100, 200], [b"q", b"rr"]],
        ],
    )
    p = tmp_path / "mini.parquet"
    p.write_bytes(blob)
    got = duckdb.connect().execute(
        f"SELECT id, payload FROM '{p}' ORDER BY id"
    ).fetchall()
    assert got == [(-3, b"zz"), (5, b"aa"), (12, b"m"), (100, b"q"), (200, b"rr")]
    md = duckdb.connect().execute(
        "SELECT row_group_id, row_group_num_rows, path_in_schema, "
        "stats_min_value, stats_max_value, stats_null_count "
        f"FROM parquet_metadata('{p}') ORDER BY row_group_id, path_in_schema"
    ).fetchall()
    assert md == [
        (0, 3, "id", "-3", "12", 0),
        (0, 3, "payload", "aa", "zz", 0),
        (1, 2, "id", "100", "200", 0),
        (1, 2, "payload", "q", "rr", 0),
    ]
    t = pq.read_table(str(p))
    assert t.column("id").to_pylist() == [5, -3, 12, 100, 200]
    assert pq.ParquetFile(str(p)).metadata.num_row_groups == 2


def test_parquet_walker_matches_pyarrow_on_fixture_files():
    """The stdlib thrift-compact footer walker vs pyarrow's C++ metadata
    on the driver's own fixture files — a different writer
    (parquet-cpp-arrow), SNAPPY compression, dictionary encodings, every
    physical type in the corpus. Ranged read (read_footer_bytes) must
    decode identically to the full-blob walk."""
    from hive_backend_spark.operators.parquet_meta import (
        parquet_footer,
        read_footer_bytes,
    )

    import pyarrow.parquet as pq

    for path in (
        "/root/testdata/sf0.01/lineitem.parquet",
        "/root/testdata/sf0.01/documents.parquet",
        "/root/testdata/sf0.01/embeddings.parquet",
    ):
        mine = parquet_footer(read_footer_bytes(path))
        with open(path, "rb") as fh:
            assert mine == parquet_footer(fh.read())
        md = pq.ParquetFile(path).metadata
        assert mine["num_rows"] == md.num_rows
        assert len(mine["row_groups"]) == md.num_row_groups
        assert mine["created_by"] == md.created_by
        for gi in range(md.num_row_groups):
            rg = md.row_group(gi)
            assert mine["row_groups"][gi]["num_rows"] == rg.num_rows
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                m = mine["row_groups"][gi]["columns"][ci]
                assert m["path"] == col.path_in_schema
                assert m["codec"] == col.compression
                assert m["total_compressed_size"] == col.total_compressed_size
                assert m["total_uncompressed_size"] == col.total_uncompressed_size
                assert m["num_values"] == col.num_values
                st = col.statistics
                if st is not None and st.has_min_max and m["type"] in (
                    "INT32",
                    "INT64",
                    "DOUBLE",
                ):
                    import datetime as _dt

                    def conv(v):
                        # pyarrow applies the TIMESTAMP logical type; my
                        # walker reports the raw INT64 (microseconds) —
                        # convert for comparison
                        if isinstance(v, _dt.datetime):
                            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
                            return round((v - epoch).total_seconds() * 1e6)
                        return v

                    assert m["stat_min"] == conv(st.min), (path, m["path"])
                    assert m["stat_max"] == conv(st.max), (path, m["path"])


def test_parquet_footer_truncation_sweep():
    """Every cut point of a parquet file either raises the walker's
    named-cause ValueError or (cuts inside data pages, which the footer
    walk never reads) parses the full metadata — never an IndexError or a
    silent wrong decode. Mangled magic and oversized footer lengths raise
    too."""
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import (
        encode_parquet,
        parquet_footer,
    )

    blob = encode_parquet(
        [("id", "INT64"), ("payload", "BYTE_ARRAY")],
        [[[1, 2, 3], [b"x", b"yy", b"zzz"]], [[7, 8], [b"a", b"b"]]],
    )
    full = parquet_footer(blob)
    for cut in range(1, len(blob)):
        with _pytest.raises(ValueError):
            parquet_footer(blob[:cut])
    # the footer walk never touches data pages: mangling page bytes leaves
    # the metadata walk intact (that is the fan-out-without-scan property)
    mangled = bytearray(blob)
    mangled[6] ^= 0xFF
    assert parquet_footer(bytes(mangled)) == full
    assert parquet_footer(blob) == full
    with _pytest.raises(ValueError, match="magic"):
        parquet_footer(b"XXXX" + blob[4:])
    with _pytest.raises(ValueError, match="magic"):
        parquet_footer(blob[:-4] + b"XXXX")
    import struct as _s

    bad_len = blob[:-8] + _s.pack("<I", len(blob)) + blob[-4:]
    with _pytest.raises(ValueError, match="footer length"):
        parquet_footer(bad_len)


def test_flac_roundtrip_all_subframe_kinds():
    """operators/flac round-11: encode->decode is integer-exact (the
    losslessness contract) across CONSTANT, VERBATIM, FIXED orders 0-4,
    mono, independent stereo, and mid/side decorrelation; STREAMINFO MD5
    verifies; CRC implementations match the published catalog check
    values for their parameterizations (CRC-8 poly 0x07 init 0 -> 0xF4
    over '123456789'; CRC-16/UMTS poly 0x8005 init 0 -> 0xFEE8), pinning
    the spec constants independently of the round trip."""
    import random

    from hive_backend_spark.operators.flac import (
        _crc8,
        _crc16,
        decode_flac,
        encode_flac,
    )

    assert _crc8(b"123456789") == 0xF4
    assert _crc16(b"123456789") == 0xFEE8

    rng = random.Random(11)
    n = 200
    sig = [rng.randint(-1024, 1023) for _ in range(n)]
    got = decode_flac(
        encode_flac([sig], 8000, bps=16, blocksize=32,
                    plan=lambda f: "verbatim" if f % 2 else ("fixed", f % 5))
    )
    assert got["channels_decoded"][0] == sig
    assert got["md5_ok"] and got["total_samples"] == n
    assert {k for fr in got["frames"] for k in fr["subframes"]} >= {
        "verbatim", "fixed0", "fixed2", "fixed4",
    }

    right = [rng.randint(-500, 500) for _ in range(n)]
    g2 = decode_flac(encode_flac([sig, right], 44100, blocksize=64))
    assert g2["channels_decoded"] == [sig, right] and g2["md5_ok"]

    g3 = decode_flac(
        encode_flac([sig, right], 48000, blocksize=64, plan=lambda f: ("fixed", 1),
                    mid_side=True)
    )
    assert g3["channels_decoded"] == [sig, right] and g3["md5_ok"]
    assert all(fr["channel_assignment"] == 10 for fr in g3["frames"])

    const = [42] * 100
    g4 = decode_flac(encode_flac([const], 8000, blocksize=50,
                                 plan=lambda f: "constant"))
    assert g4["channels_decoded"][0] == const and g4["md5_ok"]
    assert all(fr["subframes"] == ["constant"] for fr in g4["frames"])


def test_flac_lpc_subframe_decodes():
    """The LPC decode path (quantized coefficients + arithmetic shift):
    a hand-built LPC subframe with coeffs [3, -1] shift 1 must
    reconstruct the exact same samples a fixed-order-1 predictor (pred =
    a[i-1], i.e. (2*a[i-1]) >> 1) yields — cross-checking the LPC
    arithmetic against the already-roundtripped fixed path."""
    from hive_backend_spark.operators.flac import (
        _BitReader,
        _BitWriter,
        _read_subframe,
        _write_residuals,
    )

    samples = [10, 13, 7, -4, 9, 22, -15, 0, 3, 8]
    bps = 16
    coefs, shift = [2], 1  # pred = (2*a[i-1]) >> 1 == a[i-1]
    w = _BitWriter()
    w.write(0, 1)
    w.write(0b100000 | (len(coefs) - 1), 6)  # LPC order 1
    w.write(0, 1)
    w.write(samples[0] & 0xFFFF, bps)  # warmup
    w.write(4 - 1, 4)  # precision 4
    w.write(shift & 0x1F, 5)
    for c in coefs:
        w.write(c & 0xF, 4)
    residuals = [
        samples[i] - ((coefs[0] * samples[i - 1]) >> shift)
        for i in range(1, len(samples))
    ]
    _write_residuals(w, residuals)
    w.align()
    got, kind = _read_subframe(_BitReader(w.getvalue()), len(samples), bps)
    assert kind == "lpc1" and got == samples


def test_flac_truncation_and_mangle_sweep():
    """Every truncation cut either raises the module's ValueError or
    decodes a legal frame-boundary prefix (flagged by md5_ok=False /
    short sample count); every single-bit mangle is caught by magic,
    CRC-8, CRC-16, or the framing walk — never a silent wrong decode
    that still claims md5_ok."""
    import pytest as _pytest

    from hive_backend_spark.operators.flac import decode_flac, encode_flac

    sig = [((i * 37) % 256) - 128 for i in range(100)]
    blob = encode_flac([sig], 8000, bps=8, blocksize=32)
    full = decode_flac(blob)
    assert full["channels_decoded"][0] == sig and full["md5_ok"]
    for cut in range(1, len(blob)):
        try:
            got = decode_flac(blob[:cut])
        except ValueError:
            continue
        # a frame-boundary prefix is a legal stream — but it must decode
        # a correct PREFIX and fail the MD5 losslessness receipt
        dec = got["channels_decoded"][0]
        assert dec == sig[: len(dec)] and not got["md5_ok"], f"cut {cut}"
    for i in range(len(blob)):
        m = bytearray(blob)
        m[i] ^= 0x01
        try:
            got = decode_flac(bytes(m))
        except ValueError:
            continue
        assert not (got["md5_ok"] and got["channels_decoded"][0] != sig), (
            f"byte {i}: silent wrong decode passed the MD5 receipt"
        )
    with _pytest.raises(ValueError, match="magic"):
        decode_flac(b"fLaX" + blob[4:])


def test_flac_short_last_frame_verbatim_fallback():
    """round-12 ADVICE fix: the default plan's fixed order-2 predictor
    must fall back to VERBATIM when the last frame is shorter than the
    order. Before the fix, `kind[0] == "f"` never matched the tuple form
    ('fixed', k) — encode_flac raised ValueError for any n with
    n % blocksize in {1, 2} (reproduced at 65 samples / blocksize 64)."""
    from hive_backend_spark.operators.flac import decode_flac, encode_flac

    for tail in (1, 2):
        n = 64 + tail
        sig = [((i * 53) % 200) - 100 for i in range(n)]
        got = decode_flac(encode_flac([sig], 8000, bps=8, blocksize=64))
        assert got["channels_decoded"][0] == sig and got["md5_ok"], f"tail {tail}"
        # the short frame must have been demoted to VERBATIM
        assert got["frames"][-1]["subframes"] == ["verbatim"]
    # explicit ('fixed', 4) plan demotes too (order 4 >= bs 2)
    sig = [5, -3] * 33
    got = decode_flac(
        encode_flac([sig], 8000, bps=8, blocksize=64, plan=lambda f: ("fixed", 4))
    )
    assert got["channels_decoded"][0] == sig and got["md5_ok"]


def test_flac_12_and_20_bit_md5_width():
    """round-12 ADVICE fix: FLAC's audio MD5 uses ceil(bps/8) bytes per
    sample (RFC 9639), not bps//8 — the old width crashed int.to_bytes
    with OverflowError for any 12-bit sample outside +-127. Round-trips
    12- and 20-bit signals spanning their full range and checks the
    losslessness receipt holds."""
    from hive_backend_spark.operators.flac import decode_flac, encode_flac

    sig12 = [((i * 997) % 4096) - 2048 for i in range(90)]
    got = decode_flac(encode_flac([sig12], 8000, bps=12, blocksize=32))
    assert got["channels_decoded"][0] == sig12
    assert got["bits_per_sample"] == 12 and got["md5_ok"]

    sig20 = [((i * 257_111) % (1 << 20)) - (1 << 19) for i in range(70)]
    got = decode_flac(encode_flac([sig20], 8000, bps=20, blocksize=32))
    assert got["channels_decoded"][0] == sig20
    assert got["bits_per_sample"] == 20 and got["md5_ok"]


def test_parquet_plain_decode_truncation_contract():
    """round-12 ADVICE fix: _decode_plain_values (dictionary pages +
    PLAIN data pages) upholds the module's truncation contract — a short
    page raises ValueError naming the problem, never struct.error and
    never a silent short decode."""
    import struct as _struct

    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import _decode_plain_values

    # fixed-width: INT32/INT64/FLOAT/DOUBLE short buffers
    for ptype, width in ((1, 4), (2, 8), (4, 4), (5, 8)):
        good = b"\x00" * (width * 3)
        assert len(_decode_plain_values(good, ptype, 3)) == 3
        with _pytest.raises(ValueError, match="malformed parquet page"):
            _decode_plain_values(good[:-1], ptype, 3)
    # BYTE_ARRAY: truncated length prefix, then value past page end
    ba = _struct.pack("<I", 3) + b"abc" + _struct.pack("<I", 2) + b"xy"
    assert _decode_plain_values(ba, 6, 2) == [b"abc", b"xy"]
    with _pytest.raises(ValueError, match="length prefix"):
        _decode_plain_values(ba[:2], 6, 2)
    with _pytest.raises(ValueError, match="runs past page end"):
        _decode_plain_values(ba[:5], 6, 2)
    with _pytest.raises(ValueError, match="runs past page end"):
        _decode_plain_values(ba[:-1], 6, 2)
    # BOOLEAN: fewer bits than values
    with _pytest.raises(ValueError, match="BOOLEAN"):
        _decode_plain_values(b"\xff", 0, 9)


def test_parquet_nested_list_read_column(tmp_path):
    """round-12: repetition levels + single-level LIST reassembly.
    An INDEPENDENT writer (pyarrow, v1 data pages) produces a list column
    exercising every Dremel state — null record, empty list, null
    element, value — plus multi-row-group framing; read_column must
    reassemble rows exactly, and still refuse depth-2 nesting loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import read_column, read_table

    rows = [
        [1.5, None, -2.25],
        None,          # null record
        [],            # empty list
        [0.0],
        None,
        [7.125, 8.5],
        [],
        [float(i) for i in range(10)],
    ]
    ids = list(range(len(rows)))
    table = pa.table(
        {"rid": pa.array(ids, pa.int64()), "vals": pa.array(rows, pa.list_(pa.float64()))}
    )
    p = tmp_path / "nested.parquet"
    pq.write_table(table, p, data_page_version="1.0", row_group_size=3)
    blob = p.read_bytes()
    got_rows: list = []
    got_ids: list = []
    from hive_backend_spark.operators.parquet_meta import parquet_footer

    meta = parquet_footer(blob)
    assert len(meta["row_groups"]) == 3  # multi-group framing exercised
    for gi in range(len(meta["row_groups"])):
        got_ids.extend(read_column(blob, gi, "rid"))
        got_rows.extend(read_column(blob, gi, "vals.list.element"))
    assert got_ids == ids
    assert got_rows == rows
    # read_table carries the list leaf under its dotted path
    t = read_table(blob)
    assert t["vals.list.element"] == rows

    # round 13: depth-2 is no longer a refusal — general Dremel assembly
    deep = pa.table(
        {"x": pa.array([[[1, 2], [3]], [[4]]], pa.list_(pa.list_(pa.int64())))}
    )
    p2 = tmp_path / "deep.parquet"
    pq.write_table(deep, p2, data_page_version="1.0")
    assert read_column(p2.read_bytes(), 0, "x.list.element.list.element") == [
        [[1, 2], [3]],
        [[4]],
    ]


def test_parquet_general_dremel_assembly_vs_pyarrow():
    """round-13: GENERAL record assembly (any repetition depth) — every
    depth-2+ composition pyarrow can write reads back row-exact: list of
    list (with null/empty at both levels and null elements), depth-3
    lists, list<struct<scalar, list>> (an optional struct BETWEEN two
    repeated levels), map<string, list>, struct-of-list, and the same
    under DataPageV2 + LZ4_RAW + multi-row-group framing."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_backend_spark.operators.parquet_meta import read_table

    def rt(table, **kw):
        b = io.BytesIO()
        pq.write_table(table, b, **kw)
        return read_table(b.getvalue())

    ll = [[[1, 2], [3]], None, [[]], [[4, None]], [], [None, [5]], [[], [6, 7], None]]
    for kw in (
        dict(row_group_size=3),
        dict(data_page_version="2.0", use_dictionary=False, compression="lz4"),
    ):
        g = rt(pa.table({"ll": pa.array(ll, pa.list_(pa.list_(pa.int64())))}), **kw)
        assert g["ll.list.element.list.element"] == ll, kw

    l3 = [[[[1], [2, 3]], [[4]]], None, [[[]]], [[None]], [[[None, 5]]], []]
    g = rt(pa.table({"x": pa.array(l3, pa.list_(pa.list_(pa.list_(pa.int64()))))}))
    assert g["x.list.element.list.element.list.element"] == l3

    losl = [
        [{"a": 1, "v": [1, 2]}, {"a": 2, "v": None}],
        None,
        [{"a": None, "v": []}],
        [],
    ]
    typ = pa.list_(pa.struct([("a", pa.int64()), ("v", pa.list_(pa.int64()))]))
    g = rt(pa.table({"s": pa.array(losl, typ)}))
    assert g["s.list.element.a"] == [[1, 2], None, [None], []]
    assert g["s.list.element.v.list.element"] == [[[1, 2], None], None, [[]], []]

    mp = [[("k", [1, 2]), ("e", [])], None, [("n", None)], []]
    g = rt(pa.table({"m": pa.array(mp, pa.map_(pa.string(), pa.list_(pa.int64())))}))
    assert g["m.key_value.key"] == [[b"k", b"e"], None, [b"n"], []]
    assert g["m.key_value.value.list.element"] == [[[1, 2], []], None, [None], []]

    sol = [{"a": [1, 2], "c": 5}, None, {"a": None, "c": 6}, {"a": [], "c": None}]
    g = rt(
        pa.table(
            {"s": pa.array(sol, pa.struct([("a", pa.list_(pa.int64())), ("c", pa.int64())]))}
        )
    )
    assert g["s.a.list.element"] == [[1, 2], None, None, []]
    assert g["s.c"] == [5, None, 6, None]


def test_parquet_read_values_closes_the_loop():
    """read_values decodes encode_parquet's PLAIN pages back value-exact,
    driven purely by the footer's offsets — proving the walked
    data_page_offset / num_values fields are real, with DuckDB reading
    the same bytes as the cross-engine referee. Unsupported features
    (compressed fixture files) refuse with NotImplementedError naming
    the gap; mangled page framing raises ValueError."""
    import duckdb
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import (
        encode_parquet,
        parquet_footer,
        read_values,
    )

    cols = [("id", "INT64"), ("payload", "BYTE_ARRAY")]
    groups = [
        [[5, -3, 12], [b"aa", b"zz", b"m"]],
        [[100, 200], [b"q", b"rr"]],
    ]
    blob = encode_parquet(cols, groups)
    got = read_values(blob)
    assert got == {
        "id": [5, -3, 12, 100, 200],
        "payload": [b"aa", b"zz", b"m", b"q", b"rr"],
    }
    import tempfile, os

    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as fh:
        fh.write(blob)
        path = fh.name
    try:
        duck = duckdb.connect().execute(
            f"SELECT id, payload FROM '{path}'"
        ).fetchall()
        assert [(i, p) for i, p in zip(got["id"], got["payload"])] == duck
    finally:
        os.unlink(path)
    with _pytest.raises(NotImplementedError, match="UNCOMPRESSED"):
        read_values(open("/root/testdata/sf0.01/region.parquet", "rb").read())
    # corrupt the first page's num_values varint region -> named ValueError
    meta = parquet_footer(blob)
    off = meta["row_groups"][0]["columns"][0]["data_page_offset"]
    bad = bytearray(blob)
    bad[off + 1] ^= 0x7F  # mangle inside the page header
    with _pytest.raises((ValueError, NotImplementedError)):
        read_values(bytes(bad))


def test_avro_container_roundtrip_and_sweep():
    """operators/avro round-11: encode->parse recovers all six primitive
    types under both codecs and multi-block framing; the binary encoding
    is pinned to the Avro spec's published examples (zigzag: 0->0x00,
    -1->0x01, 1->0x02, -64->0x7f, 64->0x80 0x01); every truncation cut
    raises ValueError or yields a correct block-boundary prefix; sync
    mangling and bad magic raise with named causes."""
    import pytest as _pytest

    from hive_backend_spark.operators.avro import (
        _zz_encode,
        encode_avro,
        parse_avro,
    )

    # spec-published zigzag examples pin the wire format independently
    assert _zz_encode(0) == b"\x00"
    assert _zz_encode(-1) == b"\x01"
    assert _zz_encode(1) == b"\x02"
    assert _zz_encode(-64) == b"\x7f"
    assert _zz_encode(64) == b"\x80\x01"

    fields = [
        ("id", "long"), ("name", "string"), ("ok", "boolean"),
        ("score", "double"), ("raw", "bytes"), ("nil", "null"),
    ]
    recs = [
        (i * 7 - 3, f"row{i}", i % 2 == 0, i * 0.5, bytes([i % 256]), None)
        for i in range(25)
    ]
    for codec in ("null", "deflate", "snappy"):
        got = parse_avro(encode_avro(fields, recs, codec=codec, block_records=10))
        assert got["codec"] == codec and got["n_fields"] == 6
        assert [b["n_records"] for b in got["blocks"]] == [10, 10, 5]
        assert [
            (r["id"], r["name"], r["ok"], r["score"], r["raw"], r["nil"])
            for r in got["records"]
        ] == [tuple(t) for t in recs]

    blob = encode_avro(fields, recs, block_records=10)
    full = parse_avro(blob)
    for cut in range(1, len(blob)):
        try:
            g = parse_avro(blob[:cut])
        except ValueError:
            continue
        assert g["records"] == full["records"][: len(g["records"])], cut
    bad = bytearray(blob)
    bad[-1] ^= 0xFF  # last sync byte
    with _pytest.raises(ValueError, match="sync"):
        parse_avro(bytes(bad))
    with _pytest.raises(ValueError, match="magic"):
        parse_avro(b"Obj\x02" + blob[4:])

    # round-12 snappy rung: the CRC-32 suffix must catch payload damage
    # (flip a byte inside the first snappy block's literal body), and the
    # emitter's framing must satisfy an independent decoder via the
    # truncation sweep run again under the snappy codec
    sblob = encode_avro(fields, recs, codec="snappy", block_records=10)
    sfull = parse_avro(sblob)
    assert [b["n_records"] for b in sfull["blocks"]] == [10, 10, 5]
    for cut in range(1, len(sblob)):
        try:
            g = parse_avro(sblob[:cut])
        except ValueError:
            continue
        assert g["records"] == sfull["records"][: len(g["records"])], cut
    corrupt = bytearray(sblob)
    corrupt[len(sblob) // 2] ^= 0x01
    with _pytest.raises(ValueError):
        parse_avro(bytes(corrupt))
    with _pytest.raises(NotImplementedError, match="float"):
        encode_avro([("x", "float")], [])


def test_delta_log_replay_semantics():
    """operators/deltalog: latest-wins adds, remove tombstones, re-add
    resurrection, time travel at an earlier version, and the
    contiguous-version contract (a gap is a lost commit — refuse)."""
    import pytest as _pytest

    from hive_backend_spark.operators.deltalog import (
        encode_delta_log,
        replay_delta_log,
    )

    hist = [
        [{"op": "metaData", "schema": "{}"},
         {"op": "add", "path": "f0", "size": 100, "rows": 10}],
        [{"op": "add", "path": "f1", "size": 200, "rows": 20}],
        [{"op": "remove", "path": "f0"},
         {"op": "add", "path": "f2", "size": 50, "rows": 5}],
        [{"op": "add", "path": "f0", "size": 150, "rows": 15}],
        [{"op": "add", "path": "f1", "size": 250, "rows": 25}],
    ]
    log = encode_delta_log(hist)
    s = replay_delta_log(log)
    assert s["version"] == 4 and s["n_live_files"] == 3
    assert s["live_bytes"] == 450 and s["live_rows"] == 45
    assert s["n_tombstones"] == 0 and s["n_adds"] == 5 and s["n_removes"] == 1
    assert s["schema_changes"] == 1
    assert s["protocol"] == {"minReaderVersion": 1, "minWriterVersion": 2}
    # time travel: the snapshot at v2 still has f0 tombstoned
    s2 = replay_delta_log(log, at_version=2)
    assert s2["n_live_files"] == 2 and s2["n_tombstones"] == 1
    assert s2["live_rows"] == 25
    # version gap -> refuse
    gap = {k: v for k, v in log.items() if k != 2}
    with _pytest.raises(ValueError, match="gap"):
        replay_delta_log(gap)
    # malformed JSON line -> named error
    bad = dict(log)
    bad[1] = "{not json\n"
    with _pytest.raises(ValueError, match="not JSON"):
        replay_delta_log(bad)
    with _pytest.raises(ValueError, match="unknown action"):
        replay_delta_log({0: '{"txn": {}}\n'})


def test_delta_checkpoint_composes_with_tail():
    """round-12: checkpoint compaction + tail replay is state-identical
    to walking every commit — the parquet rung (stdlib read_column over
    pyarrow-written struct columns) composing with the log rung. Pins
    the full-state equality, time travel THROUGH the checkpoint, and the
    tail-gap refusal."""
    import pytest as _pytest

    from hive_backend_spark.operators.deltalog import (
        encode_delta_checkpoint,
        encode_delta_log,
        replay_delta_checkpoint,
        replay_delta_log,
    )

    hist = []
    V = 15
    for v in range(V):
        acts = []
        if v == 0:
            acts.append(
                {
                    "op": "metaData",
                    "id": "tbl-1",
                    "schema": '{"type":"struct","fields":[]}',
                    "partitionColumns": ["dt"],
                }
            )
        acts.append({"op": "add", "path": str(v), "size": 100 + 13 * v, "rows": 10 + v})
        if v >= 2 and v % 2 == 0:
            acts.append({"op": "remove", "path": str(v - 2)})
        if v == V - 1:
            acts.append({"op": "add", "path": "0", "size": 77, "rows": 7})
        hist.append(acts)
    log = encode_delta_log(hist)
    full = replay_delta_log(log)
    cp = encode_delta_checkpoint(replay_delta_log(log, at_version=10))
    tail = {v: t for v, t in log.items() if v > 10}
    got = replay_delta_checkpoint(cp, 10, tail)
    for k in ("version", "n_live_files", "live_bytes", "live_rows",
              "n_tombstones", "tombstones", "live_files", "protocol",
              "metaData"):
        assert got[k] == full[k], k
    # PROTOCOL.md requires exactly one metaData per checkpoint: the
    # table's schema/id/partitioning must survive the compaction itself,
    # not just happen to be re-stated in the tail
    assert got["metaData"] == {
        "id": "tbl-1",
        "schemaString": '{"type":"struct","fields":[]}',
        "partitionColumns": ["dt"],
    }
    # time travel through the checkpoint
    for at in (11, 12, 13):
        g = replay_delta_checkpoint(cp, 10, tail, at_version=at)
        w = replay_delta_log(log, at_version=at)
        assert g["live_files"] == w["live_files"] and g["version"] == w["version"]
    # empty tail: the checkpoint alone IS version 10
    g10 = replay_delta_checkpoint(cp, 10, {})
    w10 = replay_delta_log(log, at_version=10)
    assert g10["live_files"] == w10["live_files"] and g10["version"] == 10
    # gap refusal
    with _pytest.raises(ValueError, match="version gap"):
        replay_delta_checkpoint(cp, 10, {12: log[12]})


def test_parquet_v2_delta_decode_vs_pyarrow(tmp_path):
    """round-12: DataPageV2 + DELTA_BINARY_PACKED / DELTA_BYTE_ARRAY /
    DELTA_LENGTH_BYTE_ARRAY, written by the independent writer (pyarrow)
    with nulls, a list column, snappy data sections and multi-row-group
    framing — read_table must be value-exact; a truncated file raises the
    module's ValueError, never a silent short decode."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import read_table

    ids = [(i * i * 31) % 100000 - 50000 if i % 7 else None for i in range(3000)]
    strs = [f"doc_{i % 13:04d}_" + "x" * (i % 9) if i % 11 else None for i in range(3000)]
    vals = [[float(j) for j in range(i % 5)] if i % 6 else None for i in range(3000)]
    t = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "s": pa.array(strs, pa.string()),
            "v": pa.array(vals, pa.list_(pa.float64())),
        }
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, data_page_version="2.0", use_dictionary=False,
        column_encoding={
            "id": "DELTA_BINARY_PACKED",
            "s": "DELTA_BYTE_ARRAY",
            "v.list.element": "PLAIN",
        },
        compression="snappy", row_group_size=1100,
    )
    blob = buf.getvalue()
    got = read_table(blob)
    assert got["id"] == ids
    assert [x.decode() if x is not None else None for x in got["s"]] == strs
    assert got["v.list.element"] == vals

    buf2 = io.BytesIO()
    pq.write_table(
        pa.table({"s": pa.array(strs, pa.string())}), buf2,
        data_page_version="2.0", use_dictionary=False,
        column_encoding={"s": "DELTA_LENGTH_BYTE_ARRAY"}, compression="none",
    )
    g2 = read_table(buf2.getvalue())
    assert [x.decode() if x is not None else None for x in g2["s"]] == strs

    # truncation: cut inside the data pages (footer kept intact would be
    # nonsense — cut the file mid-body and re-append framing is not a
    # valid parquet; instead corrupt a delta page's length declaration by
    # truncating the whole file, which the footer walk itself refuses)
    with _pytest.raises(ValueError):
        read_table(blob[: len(blob) // 2])

    # BYTE_STREAM_SPLIT (encoding 9): floats/doubles/ints under both page
    # versions, nulls included — re-interleaved streams must be bit-exact
    import struct as _struct

    fl = [float(i) * 0.5 - 7 if i % 9 else None for i in range(2000)]
    db = [i * 1.25e6 if i % 4 else None for i in range(2000)]
    ii2 = [(i * 37) % 100000 - 50000 for i in range(2000)]
    t3 = pa.table(
        {
            "f": pa.array(fl, pa.float32()),
            "d": pa.array(db, pa.float64()),
            "i": pa.array(ii2, pa.int64()),
        }
    )
    want_f = [
        _struct.unpack("<f", _struct.pack("<f", x))[0] if x is not None else None
        for x in fl
    ]
    for ver in ("1.0", "2.0"):
        b3 = io.BytesIO()
        pq.write_table(
            t3, b3, data_page_version=ver, use_dictionary=False,
            column_encoding={c: "BYTE_STREAM_SPLIT" for c in ("f", "d", "i")},
            compression="snappy", row_group_size=700,
        )
        g3 = read_table(b3.getvalue())
        assert g3["f"] == want_f and g3["d"] == db and g3["i"] == ii2, ver


def test_parquet_fixed_len_byte_array_decode():
    """round-12: FIXED_LEN_BYTE_ARRAY (decimals, UUIDs — the one physical
    type the reader still refused) decodes to raw bytes at the
    schema-declared type_length under PLAIN and dictionary encodings;
    decimal128 unscaled big-endian two's complement reinterprets exactly
    against the values pyarrow wrote. Truncated pages keep the ValueError
    contract."""
    import decimal
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import (
        _decode_plain_values,
        read_table,
    )

    decs = [
        decimal.Decimal(f"{i * 7 - 300}.{i % 100:02d}") if i % 5 else None
        for i in range(500)
    ]
    uu = [bytes([i % 256]) * 16 if i % 3 else None for i in range(500)]
    t = pa.table(
        {"d": pa.array(decs, pa.decimal128(12, 2)), "u": pa.array(uu, pa.binary(16))}
    )
    for use_dict in (False, True):
        buf = io.BytesIO()
        pq.write_table(t, buf, use_dictionary=use_dict, compression="snappy")
        g = read_table(buf.getvalue())
        got_d = [
            decimal.Decimal(int.from_bytes(x, "big", signed=True)).scaleb(-2)
            if x is not None
            else None
            for x in g["d"]
        ]
        assert got_d == decs and g["u"] == uu, f"use_dictionary={use_dict}"
    with _pytest.raises(ValueError, match="FIXED_LEN_BYTE_ARRAY"):
        _decode_plain_values(b"\x00" * 31, 7, 2, flba_len=16)


def test_parquet_full_read_matches_duckdb_on_fixture_tables():
    """operators/parquet_meta round-11: the FULL stdlib read path (snappy
    decompression, dictionary pages, RLE/bit-packed hybrid indices and
    definition levels, PLAIN fallbacks) decodes every flat column of the
    driver's real fixture files ROW-EXACT against DuckDB's C++ scan —
    production bytes, production writer, 60k-row lineitem included.
    Timestamps compare at the raw physical epoch integer (micros here);
    nested list columns are skipped by read_table and refused loudly by
    read_column."""
    import duckdb
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import read_column, read_table

    TS_US = {"o_orderdate", "l_shipdate", "ts"}
    for t in ("supplier", "nation", "orders", "lineitem", "events"):
        p = f"/root/testdata/sf0.01/{t}.parquet"
        mine = read_table(open(p, "rb").read())
        cols = list(mine)
        sel = ", ".join(
            f"CAST(epoch_us({c}) AS BIGINT) AS {c}" if c in TS_US else c
            for c in cols
        )
        duck = duckdb.sql(f"SELECT {sel} FROM '{p}'").fetchall()

        def norm(v):
            return v.decode() if isinstance(v, bytes) else v

        rows = [tuple(norm(x) for x in r) for r in zip(*[mine[c] for c in cols])]
        assert rows == [tuple(norm(x) for x in r) for r in duck], t

    # round 12: the nested LIST column now decodes row-exact too
    emb = open("/root/testdata/sf0.01/embeddings.parquet", "rb").read()
    t_emb = read_table(emb)
    assert set(t_emb) == {"vec_id", "label", "embedding.list.element"}
    duck_emb = duckdb.sql(
        f"SELECT embedding FROM '/root/testdata/sf0.01/embeddings.parquet'"
    ).fetchall()
    assert t_emb["embedding.list.element"] == [r[0] for r in duck_emb]
    # a bogus path refuses loudly
    with _pytest.raises(ValueError, match="no leaf column chunk"):
        read_column(emb, 0, "embedding")


def test_snappy_decoder_roundtrip():
    """The pure-stdlib snappy decoder vs real compressor output is pinned
    transitively by the fixture decode above; this pins the tag grammar
    directly on crafted streams: literals with extended lengths,
    overlapping copies (RLE-style), and framing damage."""
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import _snappy_decompress

    # literal 'abc' + copy1 back-ref of 4 bytes at offset 3 -> 'abcabca'
    blob = bytes([7]) + bytes([2 << 2]) + b"abc" + bytes([(0 << 5) | 1, 3])
    assert _snappy_decompress(blob, 7) == b"abcabca"
    with _pytest.raises(ValueError, match="offset"):
        _snappy_decompress(bytes([4]) + bytes([0]) + b"a" + bytes([1, 9]), 4)


def test_bloom_param_contract_must_raise():
    """build_bloom/probe_bloom sizes are a hard contract: m_bits that is
    not a whole number of 256-bit blocks used to be silently remapped
    (m_bits=100 yielded a 256-bit filter), and k was ignored outright —
    both now raise instead of lying about the filter's shape."""
    import numpy as np
    import pytest as _pytest

    from hive_backend_spark.operators import bloom as B

    with _pytest.raises(ValueError, match="multiple"):
        B._check_params(100, 8)
    with _pytest.raises(ValueError, match="multiple"):
        B._check_params(0, 8)
    with _pytest.raises(ValueError, match="lanes"):
        B._check_params(512, 7)
    B._check_params(512, 8)  # valid: whole blocks, 8 lanes
    m, k = B.optimal_params(1000, 0.01)
    assert m % 256 == 0 and k == 8  # sizing helper satisfies the contract


def test_parquet_delta_length_count_mismatch_raises():
    """DELTA_LENGTH_BYTE_ARRAY pages whose embedded length-run count
    disagrees with the page header's non-null count must hit the module's
    ValueError truncation contract (as DELTA_BINARY_PACKED and
    DELTA_BYTE_ARRAY already do), not surface as a stray StopIteration or
    a silent short decode during row reassembly."""
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import _decode_page_values

    # hand-assembled page body per Encodings.md: one DELTA_BINARY_PACKED
    # run of lengths [2, 2] (block 128 / 4 miniblocks / total 2 / first
    # zigzag(2); one block: min_delta 0, four width-0 miniblocks), then
    # the concatenated value bytes
    body = (
        b"\x80\x01"      # block_size = 128
        b"\x04"          # miniblocks per block = 4
        b"\x02"          # total value count = 2
        b"\x04"          # first value = zigzag(2)
        b"\x00"          # block min delta = zigzag(0)
        b"\x00\x00\x00\x00"  # 4 miniblock widths, all 0 bits
        b"abcd"          # two 2-byte values
    )

    # correct count decodes; a header claiming one more value raises
    assert _decode_page_values(body, 6, 6, 2, None) == [b"ab", b"cd"]
    with _pytest.raises(ValueError, match="delta page"):
        _decode_page_values(body, 6, 6, 3, None)


def test_parquet_lz4_raw_decode_vs_pyarrow():
    """round-13: LZ4_RAW page decompression — pyarrow-written lz4 files
    (codec id 7, raw blocks, no Hadoop framing) read back value-exact
    with nulls, a list column and multi-row-group framing, under both
    page versions; malformed blocks hit the ValueError contract."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import (
        _lz4_raw_decompress,
        parquet_footer,
        read_table,
    )

    ids = [(i * i * 31) % 100000 - 50000 if i % 7 else None for i in range(3000)]
    strs = [f"doc_{i % 13:04d}_" + "x" * (i % 9) if i % 11 else None for i in range(3000)]
    vals = [[float(j) for j in range(i % 5)] if i % 6 else None for i in range(3000)]
    t = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "s": pa.array(strs, pa.string()),
            "v": pa.array(vals, pa.list_(pa.float64())),
        }
    )
    for ver in ("1.0", "2.0"):
        buf = io.BytesIO()
        pq.write_table(
            t, buf, compression="lz4", data_page_version=ver,
            row_group_size=1100,
        )
        blob = buf.getvalue()
        assert {
            c["codec"]
            for c in parquet_footer(blob)["row_groups"][0]["columns"]
        } == {"LZ4_RAW"}
        got = read_table(blob)
        assert got["id"] == ids, ver
        assert [x.decode() if x is not None else None for x in got["s"]] == strs
        assert got["v.list.element"] == vals

    # block grammar directly: literals + overlapping match (RLE style)
    # "abcabcabcabcab": 3 literals then a 11-byte copy at offset 3
    blk = bytes([0x37]) + b"abc" + (3).to_bytes(2, "little")
    assert _lz4_raw_decompress(blk, 14) == b"abcabcabcabcab"
    # extended literal length: 15 in the nibble, +0 extension byte
    blk2 = bytes([0xF0, 0x00]) + b"x" * 15
    assert _lz4_raw_decompress(blk2, 15) == b"x" * 15
    with _pytest.raises(ValueError, match="offset"):
        _lz4_raw_decompress(bytes([0x14]) + b"a" + (5).to_bytes(2, "little"), 0)
    with _pytest.raises(ValueError, match="declared"):
        _lz4_raw_decompress(bytes([0x20]) + b"ab", 99)
    # truncated mid-sequence: bounds-checked reader raises, never hangs
    with _pytest.raises(ValueError):
        _lz4_raw_decompress(bytes([0x47]) + b"abcd" + b"\x03", 0)


def test_delta_stats_pruning_semantics():
    """prune_live_files must be conservative: skip only on provable
    non-overlap, keep files without stats, honor one-sided bounds, and
    stats must survive the checkpoint round trip."""
    from hive_backend_spark.operators.deltalog import (
        encode_delta_checkpoint,
        encode_delta_log,
        prune_live_files,
        replay_delta_checkpoint,
        replay_delta_log,
    )

    log = encode_delta_log(
        [
            [
                {"op": "add", "path": "a", "rows": 5, "min": {"x": 0}, "max": {"x": 9}},
                {"op": "add", "path": "b", "rows": 5, "min": {"x": 10}, "max": {"x": 19}},
                {"op": "add", "path": "c", "rows": 5},  # no stats
                {"op": "add", "path": "d", "rows": 5, "min": {"y": 0}, "max": {"y": 9}},
            ]
        ]
    )
    snap = replay_delta_log(log)
    p = prune_live_files(snap, "x", 12, 15)
    assert p["kept"] == ["b", "c", "d"] and p["skipped"] == ["a"]
    # boundary overlap keeps (max == lo)
    assert prune_live_files(snap, "x", 9, 100)["skipped"] == []
    # one-sided bounds
    assert prune_live_files(snap, "x", lo=10)["skipped"] == ["a"]
    assert prune_live_files(snap, "x", hi=9)["skipped"] == ["b"]
    assert prune_live_files(snap, "x")["skipped"] == []
    # stats survive the checkpoint parquet round trip
    got = replay_delta_checkpoint(encode_delta_checkpoint(snap), 0, {})
    assert got["live_files"]["a"]["min"] == {"x": 0}
    assert got["live_files"]["a"]["max"] == {"x": 9}
    p2 = prune_live_files(got, "x", 12, 15)
    assert p2["kept"] == p["kept"] and p2["skipped"] == p["skipped"]


def test_avro_logical_types_round_trip_and_refusals():
    """round-13: Avro logical types — decimal over bytes (minimal
    two's complement) and fixed (sign-extended, NO length prefix), date,
    timestamp-millis/micros decode to proper Python objects across all
    three codecs; unsupported logical types and nested records keep the
    loud refusal; truncated fixed payloads hit the ValueError contract."""
    import datetime
    import decimal

    import pytest as _pytest

    from hive_backend_spark.operators.avro import encode_avro, parse_avro

    D = decimal.Decimal
    fields = [
        ("id", "long"),
        ("price", {"type": "bytes", "logicalType": "decimal",
                   "precision": 10, "scale": 2}),
        ("fee", {"type": "fixed", "name": "fee5", "size": 5,
                 "logicalType": "decimal", "precision": 12, "scale": 3}),
        ("d", {"type": "int", "logicalType": "date"}),
        ("tms", {"type": "long", "logicalType": "timestamp-millis"}),
        ("tus", {"type": "long", "logicalType": "timestamp-micros"}),
    ]
    recs = [
        (1, D("123.45"), D("-999.999"), datetime.date(2001, 2, 3),
         datetime.datetime(1999, 12, 31, 23, 59, 59, 123000),
         datetime.datetime(1969, 6, 1, 1, 2, 3, 456789)),
        (2, D("-0.07"), D("0.001"), datetime.date(1956, 1, 1),
         datetime.datetime(1935, 5, 5, 5, 5, 5, 5000),
         datetime.datetime(1970, 7, 4, 12, 0, 0, 1)),
        (3, D("0.00"), D("1048575.999"), datetime.date(2079, 6, 6),
         datetime.datetime(1970, 1, 1), datetime.datetime(1970, 1, 1)),
    ]
    for codec in ("null", "deflate", "snappy"):
        got = parse_avro(encode_avro(fields, recs, codec=codec, block_records=2))
        for want, g in zip(recs, got["records"]):
            assert (g["id"], g["price"], g["fee"], g["d"], g["tms"],
                    g["tus"]) == want, codec
        # the fee leaf is exactly 5 raw bytes per record — sign-extended
        assert got["fields"][2][1] == "fixed"

    for bad in (
        {"type": "long", "logicalType": "time-micros"},
        {"type": "string", "logicalType": "uuid"},
        ["null", "long", "string"],  # wide unions refuse
        {"type": "int", "logicalType": "timestamp-millis"},
    ):
        with _pytest.raises(NotImplementedError):
            encode_avro([("x", bad)], [])
    with _pytest.raises(ValueError, match="size"):
        encode_avro([("x", {"type": "fixed", "name": "f", "size": 0,
                            "logicalType": "decimal", "scale": 1})], [])
    blob = encode_avro(fields, recs)
    with _pytest.raises(ValueError):
        parse_avro(blob[:-20])


def test_avro_nested_records_round_trip():
    """round-13: nested records — Avro encodes a subrecord as its fields
    in order with no framing, so decode is pure recursion; logical types
    inside nested records convert too. Depth-2 nesting works; unions and
    arrays keep the loud refusal."""
    import datetime

    import pytest as _pytest

    from hive_backend_spark.operators.avro import encode_avro, parse_avro

    geo = {"type": "record", "name": "geo", "fields": [
        {"name": "lat", "type": "double"}, {"name": "lon", "type": "double"}]}
    user = {"type": "record", "name": "user", "fields": [
        {"name": "uid", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "joined",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "geo", "type": geo}]}
    fields = [("id", "long"), ("user", user), ("score", "double")]
    recs = [
        (1, {"uid": 7, "name": "ann",
             "joined": datetime.datetime(2001, 2, 3, 4, 5, 6, 789012),
             "geo": {"lat": 1.5, "lon": -2.25}}, 0.5),
        (2, {"uid": 9, "name": "bob",
             "joined": datetime.datetime(1969, 12, 31, 23, 59, 59),
             "geo": {"lat": -88.0, "lon": 179.75}}, -1.25),
    ]
    for codec in ("null", "deflate", "snappy"):
        got = parse_avro(encode_avro(fields, recs, codec=codec, block_records=1))
        for want, g in zip(recs, got["records"]):
            assert (g["id"], g["user"], g["score"]) == want, codec
    with _pytest.raises(NotImplementedError):
        encode_avro([("x", ["null", "long", "string"])], [])  # 3-branch
    with _pytest.raises(NotImplementedError):
        encode_avro([("x", {"type": "array", "items": "long"})], [])


def test_zstd_decoder_vs_libzstd():
    """round-13: pure-stdlib RFC 8878 zstd decoder — value-exact against
    pyarrow's bundled libzstd (an independent reference) across entropy
    profiles, sizes spanning multi-block frames (>128 KiB), and
    compression levels that switch literal/table strategies; xxh64
    matches its published vectors; malformed frames hit the ValueError /
    NotImplementedError contracts."""
    import random

    import pyarrow as pa
    import pytest as _pytest

    from hive_backend_spark.operators.zstd import _xxh64, zstd_decompress

    rnd = random.Random(13)
    cases = [
        b"", b"a", b"\x00" * 10000,
        b"hello zstd world " * 100,
        bytes(range(256)) * 40,
        rnd.randbytes(5000),
        bytes(rnd.choice(b"abcd") for _ in range(40000)),
        (b"The quick brown fox. " * 12000),  # ~250 KiB -> multi-block
        b"".join(
            b"id=%d,name=user%d;" % (i, i % 50) for i in range(20000)
        ),
    ]
    for lvl in (1, 3, 12, 19):
        for data in cases:
            comp = pa.Codec("zstd", compression_level=lvl).compress(
                data, asbytes=True
            )
            assert zstd_decompress(comp, len(data)) == data, (lvl, len(data))

    assert _xxh64(b"") == 0xEF46DB3751D8E999
    assert _xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert _xxh64(b"abc") == 0x44BC2CF5AD770999
    assert _xxh64(b"Hello, world!") == 0xF58336A78B6F9476

    comp = pa.Codec("zstd").compress(b"x" * 500, asbytes=True)
    with _pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x01\x02\x03" + comp[4:])
    with _pytest.raises(ValueError):
        zstd_decompress(comp[: len(comp) // 2])
    with _pytest.raises(ValueError, match="declared"):
        zstd_decompress(comp, 499)
    with _pytest.raises(NotImplementedError, match="skippable"):
        zstd_decompress(b"\x50\x2a\x4d\x18\x00\x00\x00\x00")


def test_zstd_parquet_pages_vs_pyarrow():
    """ZSTD parquet pages (codec 6) decode value-exact through
    read_table under both page versions with nulls, lists and
    multi-row-group framing."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_backend_spark.operators.parquet_meta import (
        parquet_footer,
        read_table,
    )

    ids = [(i * i * 31) % 100000 - 50000 if i % 7 else None for i in range(3000)]
    strs = [f"doc_{i % 13:04d}_" + "x" * (i % 9) if i % 11 else None
            for i in range(3000)]
    vals = [[float(j) for j in range(i % 5)] if i % 6 else None
            for i in range(3000)]
    t = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "s": pa.array(strs, pa.string()),
            "v": pa.array(vals, pa.list_(pa.float64())),
        }
    )
    for ver in ("1.0", "2.0"):
        buf = io.BytesIO()
        pq.write_table(t, buf, compression="zstd", data_page_version=ver,
                       row_group_size=1100)
        blob = buf.getvalue()
        assert {
            c["codec"]
            for c in parquet_footer(blob)["row_groups"][0]["columns"]
        } == {"ZSTD"}
        got = read_table(blob)
        assert got["id"] == ids, ver
        assert [x.decode() if x is not None else None for x in got["s"]] == strs
        assert got["v.list.element"] == vals


def test_zstd_stored_emitter_cross_accepted_and_avro_codec():
    """The stored-frame zstd emitter must be accepted by libzstd itself
    (spec-legality, checksum included) and by the stdlib decoder (the
    XXH64 >32-byte accumulator path gets independent coverage this way);
    the Avro `zstandard` codec round-trips through both directions and a
    flipped checksum byte is caught."""
    import random

    import pyarrow as pa
    import pytest as _pytest

    from hive_backend_spark.operators.avro import encode_avro, parse_avro
    from hive_backend_spark.operators.zstd import (
        zstd_compress_stored,
        zstd_decompress,
    )

    c = pa.Codec("zstd")
    for data in (b"x", b"hello" * 100, random.Random(3).randbytes(300000)):
        fr = zstd_compress_stored(data)
        assert c.decompress(fr, decompressed_size=len(data), asbytes=True) == data
        assert zstd_decompress(fr, len(data)) == data
    bad = bytearray(zstd_compress_stored(b"payload under test, checksummed"))
    bad[-1] ^= 0xFF
    with _pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad))

    fields = [("id", "long"), ("s", "string")]
    recs = [(i, f"val{i % 7}") for i in range(500)]
    blob = encode_avro(fields, recs, codec="zstandard", block_records=100)
    got = parse_avro(blob)
    assert [(r["id"], r["s"]) for r in got["records"]] == recs
    assert got["codec"] == "zstandard" and len(got["blocks"]) == 5


def test_avro_nullable_unions_round_trip():
    """round-13: 2-branch nullable unions in BOTH branch orders, with
    logical-typed and nested-record inner branches, across all four
    codecs; wide unions keep the refusal; an out-of-range branch index
    hits the ValueError contract."""
    import datetime

    import pytest as _pytest

    from hive_backend_spark.operators.avro import encode_avro, parse_avro

    fields = [
        ("id", "long"),
        ("opt_s", ["null", "string"]),
        ("opt_l", ["long", "null"]),
        ("opt_ts", ["null", {"type": "long", "logicalType": "timestamp-micros"}]),
        ("opt_rec", ["null", {"type": "record", "name": "g", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "double"]}]}]),
    ]
    recs = [
        (1, "hi", 7, datetime.datetime(2001, 2, 3, 4, 5, 6),
         {"a": 1, "b": 2.5}),
        (2, None, None, None, None),
        (3, "x", -9, None, {"a": 5, "b": None}),
    ]
    for codec in ("null", "deflate", "snappy", "zstandard"):
        got = parse_avro(encode_avro(fields, recs, codec=codec, block_records=2))
        for want, g in zip(recs, got["records"]):
            vals = tuple(g[n] for n in ("id", "opt_s", "opt_l", "opt_ts", "opt_rec"))
            assert vals == want, codec
    with _pytest.raises(NotImplementedError, match="union"):
        encode_avro([("x", ["null", "long", "string"])], [])
    with _pytest.raises(NotImplementedError):
        encode_avro([("x", ["null", "null"])], [])
    # corrupt branch index: encode a valid file, then bump a union byte
    blob = bytearray(encode_avro([("o", ["null", "long"])], [(None,)]))
    # last data block: count=1, size=1, payload=one zigzag byte, sync(16)
    blob[-17] = 0x08  # zigzag(4) — branch 4 of a 2-branch union
    with _pytest.raises(ValueError, match="branch"):
        parse_avro(bytes(blob))


def test_parquet_page_index_and_selective_decode():
    """round-13: ColumnIndex/OffsetIndex decode + page-selective reads —
    pyarrow-written page indexes (plain and dictionary encodings, v1/v2
    pages, zstd/snappy codecs) read back with per-page min/max/null
    counts; decoding every page individually re-joins to the full column
    exactly and single pages align with first_row_index; files without an
    index and repeated columns hit the refusal contracts."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from hive_backend_spark.operators.parquet_meta import (
        read_column,
        read_column_pages,
        read_page_index,
    )

    vals = [i if i % 13 else None for i in range(10000)]
    t = pa.table({"x": pa.array(vals, pa.int64())})
    for kw in (
        dict(use_dictionary=False),
        dict(use_dictionary=True),
        dict(use_dictionary=False, compression="zstd"),
        dict(use_dictionary=False, data_page_version="2.0", compression="snappy"),
    ):
        buf = io.BytesIO()
        pq.write_table(t, buf, write_page_index=True, data_page_size=4096, **kw)
        blob = buf.getvalue()
        idx = read_page_index(blob, 0, "x")
        assert idx["n_pages"] >= 2, kw
        assert idx["min_values"][0] == 1 and idx["max_values"][-1] == 9999
        assert sum(idx["null_counts"]) == sum(1 for v in vals if v is None)
        pages = read_column_pages(blob, 0, "x", list(range(idx["n_pages"])))
        joined = [v for pi in range(idx["n_pages"]) for v in pages[pi]]
        assert joined == read_column(blob, 0, "x") == vals, kw
        fri = idx["page_locations"][1]["first_row_index"]
        assert vals[fri : fri + len(pages[1])] == pages[1]

    # no index written -> loud refusal to pretend
    buf = io.BytesIO()
    pq.write_table(t, buf, write_page_index=False)
    with _pytest.raises(ValueError, match="no page index"):
        read_page_index(buf.getvalue(), 0, "x")
    # repeated columns refuse page-selective decode
    lt = pa.table({"l": pa.array([[1, 2], [3]] * 500, pa.list_(pa.int64()))})
    buf = io.BytesIO()
    pq.write_table(lt, buf, write_page_index=True, data_page_size=2048)
    with _pytest.raises(NotImplementedError, match="repeated"):
        read_column_pages(buf.getvalue(), 0, "l.list.element", [0])


def test_orc_tail_walker_vs_pyarrow():
    """round-13: ORC tail walk — postscript, chunked-stream footer
    decompression under all five kinds (zlib raw-deflate, raw snappy,
    RFC 8878 zstd and lz4 raw blocks inside ORC's 3-byte chunk headers),
    stripe directory summing to the file row count, type tree, and typed
    file statistics (zigzag ints, strings, doubles) — against
    pyarrow-written files; truncation/magic damage raises."""
    import io

    import pyarrow as pa
    import pytest as _pytest
    from pyarrow import orc

    from hive_backend_spark.operators.orc import parse_orc_tail

    vals = [i * 3 - 500 for i in range(10000)]
    strs = [f"name{i % 23:03d}" for i in range(10000)]
    dbls = [i * 0.25 - 10.0 for i in range(10000)]
    t = pa.table(
        {
            "x": pa.array(vals, pa.int64()),
            "s": pa.array(strs, pa.string()),
            "d": pa.array(dbls, pa.float64()),
        }
    )
    for comp in ("uncompressed", "zlib", "snappy", "zstd", "lz4"):
        buf = io.BytesIO()
        orc.write_table(t, buf, compression=comp, stripe_size=16 * 1024)
        got = parse_orc_tail(buf.getvalue())
        assert got["n_rows"] == 10000 and got["n_stripes"] >= 1, comp
        assert sum(s["n_rows"] for s in got["stripes"]) == 10000
        assert got["types"][0]["kind"] == "struct"
        assert got["types"][0]["field_names"] == ["x", "s", "d"]
        xs = got["column_stats"][1]
        assert (xs["kind"], xs["min"], xs["max"], xs["sum"]) == (
            "int", -500, 29497, sum(vals)), comp
        ss = got["column_stats"][2]
        assert (ss["kind"], ss["min"], ss["max"]) == ("string", "name000", "name022")
        ds = got["column_stats"][3]
        assert ds["kind"] == "double" and ds["min"] == -10.0

    blob = buf.getvalue()
    with _pytest.raises(ValueError):
        parse_orc_tail(blob[: len(blob) // 2])  # footer/postscript gone
    bad = bytearray(blob)
    bad[-2] ^= 0xFF  # corrupt postscript near the magic
    with _pytest.raises((ValueError, NotImplementedError)):
        parse_orc_tail(bytes(bad))
    with _pytest.raises(ValueError):
        parse_orc_tail(b"\x00\x01\x02\x03\x04\x05\x06\x03")
    with _pytest.raises(ValueError, match="magic"):
        # structurally-valid postscript protobuf but no ORC magic field
        parse_orc_tail(b"\x08\x00\x10\x00" + bytes([4]))
