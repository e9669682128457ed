"""Unit tests: cuckoo/Bloom filters, robots parsing, snapshot store."""

import numpy as np
import pytest

from goskyr_spark.kernels.cuckoo import SALT, BloomFilter, CuckooFilter, _mix
from goskyr_spark.kernels.robots import parse_robots, robots_url


def test_bloom_no_false_negatives_and_low_fp():
    rng = np.random.default_rng(7)
    present = rng.integers(0, 2**63, 5000, dtype=np.int64).view(np.uint64)
    absent = rng.integers(0, 2**63, 5000, dtype=np.int64).view(np.uint64)
    absent = np.setdiff1d(absent, present)
    bf = BloomFilter.sized_for(len(present))
    bf.add_many(present)
    assert bf.contains_many(present).all()  # NO false negatives, ever
    fp = bf.contains_many(absent).mean()
    assert fp < 0.05
    # serialization round-trip
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.contains_many(present).all()
    assert bf2.count == bf.count


def test_cuckoo_membership_and_roundtrip():
    rng = np.random.default_rng(11)
    present = rng.integers(0, 2**63, 4000, dtype=np.int64).view(np.uint64)
    absent = rng.integers(2**63, 2**64, 4000, dtype=np.uint64)
    cf = CuckooFilter.sized_for(len(present))
    inserted = cf.insert_many(present)
    assert inserted == len(present)  # sized for capacity → all fit
    assert cf.contains_many(present).all()  # no false negatives
    fp = cf.contains_many(absent).mean()
    assert fp < 0.01  # 16-bit fingerprints → ~2*4/65536
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains_many(present).all()


# --- scalar reference: the one-key-at-a-time insert and membership test the
# engine shipped before insert_many was vectorized, kept as its oracle ---------

def _ref_fp_and_index(cf, h):
    m = int(_mix(np.array([np.uint64(h) ^ SALT], dtype=np.uint64))[0])
    fp = (m >> 48) & 0xFFFF
    if fp == 0:
        fp = 1
    return np.uint16(fp), m & int(cf.mask)


def _ref_alt_index(cf, i, fp):
    fph = int(_mix(np.array([fp], dtype=np.uint64) ^ SALT)[0])
    return (i ^ fph) & int(cf.mask)


def _ref_contains(cf, h):
    fp, i1 = _ref_fp_and_index(cf, h)
    if fp in cf.table[i1]:
        return True
    return fp in cf.table[_ref_alt_index(cf, i1, int(fp))]


def _ref_insert(cf, h):
    fp, i1 = _ref_fp_and_index(cf, h)
    i2 = _ref_alt_index(cf, i1, int(fp))
    for i in (i1, i2):
        row = cf.table[i]
        empty = np.where(row == 0)[0]
        if len(empty):
            row[empty[0]] = fp
            cf.count += 1
            return True
    i = i1 if (int(fp) & 1) == 0 else i2
    cur = int(fp)
    state = int(_mix(np.array([h], dtype=np.uint64))[0])
    for _ in range(500):
        state = int(_mix(np.array([state], dtype=np.uint64))[0])
        slot = state % cf.SLOTS
        cur, cf.table[i][slot] = int(cf.table[i][slot]), np.uint16(cur)
        i = _ref_alt_index(cf, i, cur)
        row = cf.table[i]
        empty = np.where(row == 0)[0]
        if len(empty):
            row[empty[0]] = np.uint16(cur)
            cf.count += 1
            return True
    return False


def _ref_insert_many(cf, hashes):
    return sum(_ref_insert(cf, int(h)) for h in hashes)


def _keys(n, seed):
    rng = np.random.default_rng(seed)
    return np.sort(rng.integers(0, 2**64, n, dtype=np.uint64))


def _assert_same_fill(make, hashes):
    """insert_many and the scalar reference, each on its own filter from
    make(), return the same count and leave the same bytes."""
    vec, ref = make(), make()
    n = vec.insert_many(hashes)
    assert n == _ref_insert_many(ref, hashes)
    assert vec.count == ref.count
    assert vec.to_bytes() == ref.to_bytes()
    return n


@pytest.mark.parametrize("n", [812, 6500, 50_000])
def test_cuckoo_insert_many_matches_scalar_reference(n):
    keys = _keys(n, n)
    assert _assert_same_fill(lambda: CuckooFilter.sized_for(n), keys) == n


def test_cuckoo_insert_many_edge_cases_match_reference():
    assert _assert_same_fill(lambda: CuckooFilter(8),
                             np.zeros(0, dtype=np.uint64)) == 0
    # duplicates: each copy takes a slot until both buckets are full,
    # then evictions run, and past 500 kicks a copy is refused
    dups = np.array([5] * 3 + [7] * 2 + [9] * 12, dtype=np.uint64)
    assert _assert_same_fill(lambda: CuckooFilter(8), dups) < len(dups)
    # a key whose fingerprint bits are 0 is stored as 1 (0 marks empty)
    pool = _keys(1 << 20, 4)
    zero_fp = pool[(_mix(pool ^ SALT) >> np.uint64(48)) == 0][:1]
    assert len(zero_fp) == 1
    _assert_same_fill(lambda: CuckooFilter(8), zero_fp)
    # over-full (load 1.05): evictions overflow and keys are refused
    over = _keys(4000, 1)
    n = _assert_same_fill(lambda: CuckooFilter(int(4000 / (4 * 1.05))), over)
    assert 0 < n < len(over)


def test_cuckoo_insert_many_into_prefilled_matches_reference():
    base = CuckooFilter.sized_for(6000)
    base.insert_many(_keys(3000, 2))
    blob = base.to_bytes()
    more = _keys(2500, 3)
    assert _assert_same_fill(lambda: CuckooFilter.from_bytes(blob),
                             more) == len(more)


def test_cuckoo_scalar_vector_agree():
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 2**63, 500, dtype=np.int64).view(np.uint64)
    cf = CuckooFilter.sized_for(1000)
    cf.insert_many(keys[:250])
    vec = cf.contains_many(keys)
    scal = np.array([_ref_contains(cf, int(k)) for k in keys])
    assert (vec == scal).all()


ROBOTS = """
# comments ignored
User-agent: somebot
Disallow: /

User-agent: *
Disallow: /private/
Disallow: /tmp/*.pdf$
Allow: /private/ok/
Crawl-delay: 2.5
"""


def test_robots_rules():
    r = parse_robots(ROBOTS, "goskyr")
    assert r.crawl_delay == 2.5
    assert r.allowed("/") is True
    assert r.allowed("/public/x") is True
    assert r.allowed("/private/secret") is False
    assert r.allowed("/private/ok/page") is True  # longest match wins
    assert r.allowed("/tmp/a.pdf") is False       # $ anchor + wildcard
    assert r.allowed("/tmp/a.pdfx") is True
    # specific group selection
    rb = parse_robots(ROBOTS, "somebot")
    assert rb.allowed("/anything") is False


def test_robots_empty_and_garbage():
    assert parse_robots("", "*").allowed("/x") is True
    assert parse_robots(b"\x00garbage no colons", "*").allowed("/") is True
    r = parse_robots("User-agent: *\nDisallow:\n", "*")
    assert r.allowed("/anything") is True  # empty Disallow = allow all


def test_robots_url():
    # the port is part of the request target, unlike the host key
    assert robots_url("http://a.test:8080/x/y") == \
        "http://a.test:8080/robots.txt"
    # no scheme: https
    assert robots_url("//a.test/p") == "https://a.test/robots.txt"
    # query and fragment are the page's, not robots.txt's
    assert robots_url("https://a.test/list?page=2#top") == \
        "https://a.test/robots.txt"


def _write_slab_rows(path, sids, round_no, seed):
    """One slab file holding a fresh row per slab id, as a round writes
    it; returns {sid: (bloom, cuckoo) bytes} of its rows."""
    import pyarrow.parquet as pq

    from goskyr_spark.spark.crawl import _slab_build

    rng = np.random.default_rng(seed)
    groups = {s: rng.integers(-2**63, 2**63 - 1, 20) for s in sids}
    t = _slab_build(groups, {}, {s: 64 for s in sids}, round_no)
    pq.write_table(t, path)
    return {r["slab_id"]: (r["bloom"], r["cuckoo"]) for r in t.to_pylist()}


def test_slab_blobs_reads_each_file_once(tmp_path, monkeypatch):
    """_slab_blobs returns each requested slab's latest-round row, one
    pruned read per file; ids without a row are absent and a file no
    manifest lists (its round rolled back) is never read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from goskyr_spark.spark import crawl

    a, b, gone = (str(tmp_path / n) for n in ("a.parquet", "b.parquet",
                                              "rolled_back.parquet"))
    r0 = _write_slab_rows(a, [0, 1, 2], 0, seed=1)
    # b holds two generations of slab 0 (as after a compaction that kept
    # both) and round 1 of slab 1
    older = _write_slab_rows(str(tmp_path / "old.parquet"), [0], 0, seed=2)
    r1 = _write_slab_rows(str(tmp_path / "new.parquet"), [0, 1], 1, seed=3)
    pq.write_table(pa.concat_tables([
        pq.read_table(str(tmp_path / "old.parquet")),
        pq.read_table(str(tmp_path / "new.parquet"))]), b)
    _write_slab_rows(gone, [0, 1, 2], 2, seed=4)
    latest = {0: (b, 1, 20, 64), 1: (b, 1, 20, 64), 2: (a, 0, 20, 64)}
    assert older[0] != r1[0]

    reads = []
    real = pq.read_table

    def counted(path, *args, **kw):
        reads.append(path)
        return real(path, *args, **kw)

    monkeypatch.setattr(crawl.pq, "read_table", counted)
    got = crawl._slab_blobs(latest, [0, 1, 2, 5])
    assert got == {0: r1[0], 1: r1[1], 2: r0[2]}
    assert sorted(reads) == sorted([a, b])
    reads.clear()
    assert crawl._slab_blobs(latest, [2]) == {2: r0[2]}
    assert reads == [a]
    reads.clear()
    assert crawl._slab_blobs(latest, [5, 7]) == {}
    assert crawl._slab_blobs({}, [0]) == {}
    assert reads == []


def test_snapshot_store(tmp_path):
    import pandas as pd

    from goskyr_spark.spark.store import SnapshotStore

    pytest.importorskip("pyspark")
    from goskyr_spark.spark.session import get_spark

    spark = get_spark(app="store-test", master="local[2]",
                      shuffle_partitions=2)
    store = SnapshotStore(str(tmp_path))
    t = store.table("demo")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s1 = t.append(df1, {"round": 0})
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    s2 = t.append(df2, {"round": 1})
    assert t.read(spark).count() == 3
    # time travel
    assert t.read(spark, snapshot=s1).count() == 2
    # rollback by re-committing old files
    t._commit(t.manifest(s1)["files"], {"round": 0}, "overwrite")
    assert t.read(spark).count() == 2
    # appends after rollback don't resurrect rolled-back files
    t.append(df2, {"round": 1})
    assert t.read(spark).count() == 3
    assert [m["snapshot"] for m in t.snapshots()][-1] == t.head()


def test_iceberg_backend_seam():
    """The iceberg backend exists as a documented seam: without a
    configured catalog (this container has no Iceberg jars) it raises
    with a clear message; the parquet default is unchanged."""
    import pytest

    from goskyr_spark.spark.session import get_spark
    from goskyr_spark.spark.store import SnapshotStore

    spark = get_spark(app="seam", master="local[2]", shuffle_partitions=2)
    store = SnapshotStore("cat.db", backend="iceberg", spark=spark)
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        store.table("frontier")
