"""Byte-compatibility tests for the graphjrl / bintsv4 readers+writers
(`graphlab_spark/sources/binary_formats.py`) against hand-built fixture
bytes that follow the reference layouts exactly:

- bintsv4: LE uint32 pairs, 0xFFFFFFFF dest sentinel for isolated
  vertices (``distributed_graph.hpp:3258-3291``), ``_k_of_n[.gz]``
  shard naming (``save_direct``);
- graphjrl: escaped oarchive lines — \\xFF -> \\xFF\\x01,
  \\n -> \\xFF\\x00, record = type byte + LE ids
  (``builtin_parsers.hpp:196-318``).
"""

from __future__ import annotations

import gzip
import os
import struct

import pytest

from graphlab_spark.sources.binary_formats import (
    _escape_jrl,
    _unescape_jrl,
    load_bintsv4,
    load_bintsv4_records,
    load_graphjrl,
    load_graphjrl_records,
    save_bintsv4,
    save_graphjrl,
)

EDGES = [(0, 1), (1, 2), (2, 0), (255, 10), (0x0A0A, 0xFF)]
ISOLATED = [7, 99]


def _ref_bintsv4_bytes(pairs):
    return b"".join(struct.pack("<II", s, d) for s, d in pairs)


def _ref_jrl_record(rtype, *ids, vid_bytes=8):
    raw = bytes([rtype]) + b"".join(
        i.to_bytes(vid_bytes, "little") for i in ids)
    # reference escape_newline (builtin_parsers.hpp:205-233)
    out = bytearray()
    for b in raw:
        if b == 0xFF:
            out += b"\xff\x01"
        elif b == 0x0A:
            out += b"\xff\x00"
        else:
            out.append(b)
    return bytes(out) + b"\n"


def test_jrl_escape_roundtrip_exhaustive_pairs():
    # every 2-byte combination survives escape -> unescape
    for a in (0, 1, 0x0A, 0xFE, 0xFF):
        for b in (0, 1, 0x0A, 0xFE, 0xFF):
            raw = bytes([a, b])
            esc = _escape_jrl(raw)
            assert b"\n" not in esc
            assert _unescape_jrl(esc) == raw
    # and our escape matches the reference's byte-for-byte
    assert _escape_jrl(b"\xff\n\x01") == b"\xff\x01\xff\x00\x01"


def test_load_bintsv4_reference_bytes(spark, tmp_path):
    pairs = [(s, d) for s, d in EDGES] + [(v, 0xFFFFFFFF) for v in ISOLATED]
    (tmp_path / "g_1_of_2").write_bytes(_ref_bintsv4_bytes(pairs[:3]))
    (tmp_path / "g_2_of_2.gz").write_bytes(
        gzip.compress(_ref_bintsv4_bytes(pairs[3:])))
    prefix = str(tmp_path / "g")
    got = {(r["src"], r["dst"]) for r in load_bintsv4(spark, prefix).collect()}
    assert got == set(EDGES)
    recs = load_bintsv4_records(spark, prefix).collect()
    assert {r["src"] for r in recs if r["rtype"] == 0} == set(ISOLATED)
    assert all(r["dst"] is None for r in recs if r["rtype"] == 0)


def test_load_graphjrl_reference_bytes(spark, tmp_path):
    # ids chosen to force \xFF and \n bytes inside the LE id encoding
    buf = b"".join([_ref_jrl_record(0, v) for v in ISOLATED]
                   + [_ref_jrl_record(1, s, d) for s, d in EDGES])
    (tmp_path / "j_1_of_1").write_bytes(buf)
    prefix = str(tmp_path / "j")
    got = {(r["src"], r["dst"])
           for r in load_graphjrl(spark, prefix).collect()}
    assert got == set(EDGES)
    recs = load_graphjrl_records(spark, prefix).collect()
    assert {r["src"] for r in recs if r["rtype"] == 0} == set(ISOLATED)


def test_graphjrl_vid32_build(spark, tmp_path):
    buf = _ref_jrl_record(1, 3, 0xFF00FF, vid_bytes=4)
    (tmp_path / "j32_1_of_1").write_bytes(buf)
    rows = load_graphjrl(spark, str(tmp_path / "j32"),
                         vid_bytes=4).collect()
    assert [(r["src"], r["dst"]) for r in rows] == [(3, 0xFF00FF)]


def test_bintsv4_write_read_roundtrip(spark, tmp_path):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    verts = spark.createDataFrame(
        [(s,) for s, _ in EDGES] + [(d,) for _, d in EDGES]
        + [(v,) for v in ISOLATED], "id long").distinct()
    prefix = str(tmp_path / "out" / "g")
    manifest = save_bintsv4(edges, prefix, n_shards=3, vertices=verts)
    assert sum(n for _, n in manifest) == len(EDGES) + len(ISOLATED)
    # reference-decoder replay: parse the written bytes independently
    import glob
    ref_pairs = set()
    for f in glob.glob(prefix + "_*_of_3"):
        raw = open(f, "rb").read()
        for i in range(0, len(raw), 8):
            ref_pairs.add(struct.unpack_from("<II", raw, i))
    assert {(s, d) for s, d in ref_pairs if d != 0xFFFFFFFF} == set(EDGES)
    assert {s for s, d in ref_pairs if d == 0xFFFFFFFF} == set(ISOLATED)
    # and through our reader
    got = {(r["src"], r["dst"]) for r in load_bintsv4(spark, prefix).collect()}
    assert got == set(EDGES)


def test_graphjrl_write_read_roundtrip_gz(spark, tmp_path):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in ISOLATED], "id long")
    prefix = str(tmp_path / "j")
    save_graphjrl(edges, prefix, n_shards=2, vertices=verts, gzip=True)
    recs = load_graphjrl_records(spark, prefix).collect()
    assert {(r["src"], r["dst"]) for r in recs if r["rtype"] == 1} \
        == set(EDGES)
    assert {r["src"] for r in recs if r["rtype"] == 0} == set(ISOLATED)
    # reference-decoder replay of one shard: unescape per the C++ map
    import glob
    f = sorted(glob.glob(prefix + "_*_of_2.gz"))[0]
    raw = gzip.decompress(open(f, "rb").read())
    for rec in raw.split(b"\n"):
        if not rec:
            continue
        r = _unescape_jrl(rec)
        assert r[0] in (0, 1)
        assert len(r) == 1 + 8 * (1 + r[0])


def test_load_format_dispatch_binary(spark, tmp_path):
    from graphlab_spark.sources.parsers import load_format, save_edges
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    for fmt in ("bintsv4", "graphjrl"):
        prefix = str(tmp_path / fmt / "g")
        save_edges(edges, prefix, fmt=fmt)
        got = {(r["src"], r["dst"])
               for r in load_format(spark, prefix, fmt).collect()}
        assert got == set(EDGES), fmt


def test_bintsv4_rejects_oversized_ids(spark, tmp_path):
    edges = spark.createDataFrame([(1 << 40, 2)], "src long, dst long")
    with pytest.raises(Exception, match="uint32"):
        save_bintsv4(edges, str(tmp_path / "g"), n_shards=1)


def test_bintsv4_rejects_truncated_shard(spark, tmp_path):
    (tmp_path / "g_1_of_1").write_bytes(b"\x01\x00\x00\x00\x02\x00")
    with pytest.raises(Exception, match="multiple of 8"):
        load_bintsv4(spark, str(tmp_path / "g")).collect()


def test_bintsv4_rejects_sentinel_dst_edge(spark, tmp_path):
    """An edge whose dst is 0xFFFFFFFF would round-trip as an
    isolated-vertex record; the writer refuses the collision (the
    deliberate sentinel rows for isolated vertices still write)."""
    edges = spark.createDataFrame([(1, 0xFFFFFFFF)], "src long, dst long")
    with pytest.raises(Exception, match="sentinel"):
        save_bintsv4(edges, str(tmp_path / "g"), n_shards=1)
    ok = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    save_bintsv4(ok, str(tmp_path / "h"), n_shards=1, vertices=verts)
    got = load_bintsv4(spark, str(tmp_path / "h")).collect()
    assert {(r["src"], r["dst"]) for r in got} == {(1, 2)}


def test_binary_io_rejects_remote_uris(spark, tmp_path):
    """Shard IO opens the local filesystem; remote URIs fail fast
    instead of silently scattering shards across executor disks."""
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    for fn in (save_bintsv4,):
        with pytest.raises(ValueError, match="remote URI"):
            fn(edges, "hdfs://nn:8020/tmp/g")
    from graphlab_spark.sources.binary_formats import save_graphjrl
    with pytest.raises(ValueError, match="remote URI"):
        save_graphjrl(edges, "s3a://bucket/g")
    with pytest.raises(ValueError, match="remote URI"):
        load_bintsv4(spark, "hdfs://nn:8020/tmp/g")


def test_binary_io_file_uri_roundtrip(spark, tmp_path, monkeypatch):
    """A ``file://`` prefix names a local path: shards land under that
    path (not a literal ``./file:`` directory) and load back through
    either spelling."""
    monkeypatch.chdir(tmp_path)
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    plain = str(tmp_path / "out" / "g")
    for save, load in ((save_bintsv4, load_bintsv4),
                       (save_graphjrl, load_graphjrl)):
        manifest = save(edges, "file://" + plain, n_shards=2)
        assert all(f.startswith(plain + "_") for f, _ in manifest)
        assert not (tmp_path / "file:").exists()
        for prefix in ("file://" + plain, plain):
            got = {(r["src"], r["dst"]) for r in load(spark, prefix).collect()}
            assert got == set(EDGES)
        for f, _ in manifest:
            os.remove(f)
