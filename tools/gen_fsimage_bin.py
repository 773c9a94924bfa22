#!/usr/bin/env python3
"""Deterministic generator for fixtures/fsimage_mini.bin — the SAME mini
namespace as fixtures/fsimage_mini.xml, encoded in the BINARY fsimage
container format (Hadoop `FSImageFormatProtobuf`): HDFSIMG1 magic,
STRING_TABLE / INODE / INODE_DIR / SNAPSHOT sections, tail FileSummary with
the section index, 4-byte big-endian summary length.

Input is fixtures/fsimage_mini_flat.csv (the authored ground truth the XML
generator writes), so the binary image and the XML dump describe the same
namespace BY CONSTRUCTION and `graft.ingest.FsImageBinary.inodes` must
produce a frame identical to `FsImageXmlSource.inodes` — and hash-match the
same DuckDB oracle.

Encoding notes (mirroring FSImageFormatPBINode):
  - permission fixed64 = userSerial<<40 | groupSerial<<16 | mode; the
    string table maps serials to names.
  - file_size splits into num_blocks BlockProto messages (sizes arbitrary
    but summing exactly — the engine only uses sum + count).
  - EC files: no replication field, erasureCodingPolicyID=2.
  - dir quotas: -1 encodes as the 64-bit two's-complement varint.

With `--seed N` the PHYSICAL LAYOUT is randomized over the degrees of
freedom the genuine saver (or a future Hadoop version) legitimately has,
while describing the SAME namespace: body section order (the FileSummary
index is the only authority), summary index entry order, string-table
serial assignment (shuffled, non-contiguous ids), inode record order
within the INODE section, protobuf field order within INodeFile /
INodeDirectory submessages (any tag order is legal), dir-entry order, and
interleaved UNKNOWN sections a decoder must skip — and, on about half
the seeds, per-section COMPRESSION (gzip/zlib via --codec, the
FileSummary codec field). `IngestSpec` sweeps seeds and asserts
decode == XML door on every layout — a layout the decoder can't handle
is a found bug, not a silent assumption.

Regenerate with: python3 tools/gen_fsimage_bin.py
"""
import csv
import os
import random
import struct


def varint(out: bytearray, v: int) -> None:
    v &= (1 << 64) - 1  # two's complement for negatives (-1 quotas)
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def tag(out: bytearray, field: int, wire: int) -> None:
    varint(out, (field << 3) | wire)


def uint_field(out: bytearray, field: int, v: int) -> None:
    tag(out, field, 0)
    varint(out, v)


def bytes_field(out: bytearray, field: int, b: bytes) -> None:
    tag(out, field, 2)
    varint(out, len(b))
    out.extend(b)


def fixed64_field(out: bytearray, field: int, v: int) -> None:
    tag(out, field, 1)
    out.extend(struct.pack("<Q", v & (1 << 64) - 1))


def delimited(out: bytearray, msg: bytearray) -> None:
    varint(out, len(msg))
    out.extend(msg)


import sys

argv = sys.argv[1:]
seed = None
if "--seed" in argv:
    i = argv.index("--seed")
    seed = int(argv[i + 1])
    del argv[i:i + 2]
rng = random.Random(seed) if seed is not None else None
# --codec gzip|deflate: compress each SECTION's bytes with the codec and
# record the codec class name in the FileSummary (the summary itself is
# never compressed) — exactly FSImageFormatProtobuf's compressed layout.
# Under --seed with no explicit codec, the rng picks one (or none), so
# the randomized-layout sweep also covers compressed images.
codec = None
if "--codec" in argv:
    i = argv.index("--codec")
    codec = argv[i + 1]
    del argv[i:i + 2]
elif rng:
    codec = rng.choice([None, None, "gzip", "deflate"])

def compress_section(b):
    import gzip as _gzip
    import zlib as _zlib
    if codec == "gzip":
        # fixed mtime: byte-determinism per seed
        return _gzip.compress(bytes(b), mtime=0)
    if codec == "deflate":
        return _zlib.compress(bytes(b))
    return bytes(b)

CODEC_CLASS = {"gzip": "org.apache.hadoop.io.compress.GzipCodec",
               "deflate": "org.apache.hadoop.io.compress.DefaultCodec"}

base = os.path.join(os.path.dirname(__file__), "..", "fixtures")
# scale mode: gen_fsimage_bin.py <flat_csv> <out.bin> encodes any flat CSV
# (e.g. the one gen_fsimage_xml.py writes at scale) into a binary image;
# `gen_fsimage_bin.py /tmp/fsimage_big_flat.csv` writes the
# /tmp/fsimage_big.bin ScaleBench's `ingest_oivbin_*` stages read
flat_path = argv[0] if len(argv) > 0 \
    else os.path.join(base, "fsimage_mini_flat.csv")
rows = list(csv.DictReader(open(flat_path)))
for r in rows:
    for k in ("id", "perm", "mtime_ms", "atime_ms", "block_size",
              "num_blocks", "file_size", "replication", "storage_policy",
              "ns_quota", "ds_quota", "ec_policy"):
        r[k] = int(r[k])
    for k in ("is_file", "is_ec", "is_uc", "has_acl", "is_snap_root"):
        r[k] = r[k] == "true"
rows.sort(key=lambda r: r["id"])

# ---- string table: user/group names -> serials (1-based like Hadoop;
# under --seed: shuffled order, random NON-CONTIGUOUS ids — nothing in
# the format promises density) ----
names = []
for r in rows:
    for n in (r["usr"], r["grp"]):
        if n not in names:
            names.append(n)
if rng:
    rng.shuffle(names)
    ids = rng.sample(range(1, 10000), len(names))
    serial = {n: ids[i] for i, n in enumerate(names)}
else:
    serial = {n: i + 1 for i, n in enumerate(names)}

string_table = bytearray()
hdr = bytearray()
uint_field(hdr, 1, len(names))
delimited(string_table, hdr)
for n in names:
    e = bytearray()
    uint_field(e, 1, serial[n])
    bytes_field(e, 2, n.encode())
    delimited(string_table, e)

# ---- INODE section ----
# Field chunks assemble each protobuf message; under --seed the chunk
# order is shuffled — ANY tag order is legal protobuf and a tag-loop
# decoder must not care. Repeated fields (blocks) stay one chunk: the
# spec requires repeated-field relative order preserved, but they may
# interleave anywhere among the other fields.
def assemble(chunks):
    if rng:
        rng.shuffle(chunks)
    out = bytearray()
    for c in chunks:
        out.extend(c)
    return out


inode_sec = bytearray()
hdr = bytearray()
uint_field(hdr, 1, max(r["id"] for r in rows))
uint_field(hdr, 2, len(rows))
delimited(inode_sec, hdr)
inode_rows = rows[:]
if rng:  # record order within the section is saver-internal
    rng.shuffle(inode_rows)
for r in inode_rows:
    mode = int(str(r["perm"]), 8)
    perm64 = (serial[r["usr"]] << 40) | (serial[r["grp"]] << 16) | mode
    name = "" if r["path"] == "/" else r["path"].rsplit("/", 1)[1]
    if r["is_file"]:
        chunks = []
        if not r["is_ec"]:
            c = bytearray(); uint_field(c, 1, r["replication"]); chunks.append(c)
        c = bytearray(); uint_field(c, 2, r["mtime_ms"]); chunks.append(c)
        c = bytearray(); uint_field(c, 3, r["atime_ms"]); chunks.append(c)
        c = bytearray(); uint_field(c, 4, r["block_size"]); chunks.append(c)
        c = bytearray(); fixed64_field(c, 5, perm64); chunks.append(c)
        n, total = r["num_blocks"], r["file_size"]
        blocks = bytearray()
        for j in range(n):
            size = total // n + (total % n if j == n - 1 else 0)
            b = bytearray()
            uint_field(b, 1, 1073741825 + r["id"] * 8 + j)  # blockId
            uint_field(b, 2, 1001 + j)                      # genStamp
            uint_field(b, 3, size)
            tag(blocks, 6, 2)
            delimited(blocks, b)
        if n:
            chunks.append(blocks)
        if r["is_uc"]:
            uc = bytearray()
            bytes_field(uc, 1, b"DFSClient_fixture")
            bytes_field(uc, 2, b"10.0.0.1")
            c = bytearray(); tag(c, 7, 2); delimited(c, uc); chunks.append(c)
        if r["has_acl"]:
            # AclFeatureProto: repeated fixed32 entries = 2 [packed] -
            # REAL bit-packed entries (scope|type|perm|name-serial), as a
            # Hadoop-produced image carries
            acl = bytearray()
            tag(acl, 2, 2)
            entries = [0x02000006 | (r["id"] & 0xFF) << 6, 0x0A000004]
            packed_acl = b"".join(struct.pack("<I", e) for e in entries)
            varint(acl, len(packed_acl))
            acl.extend(packed_acl)
            c = bytearray(); tag(c, 8, 2); delimited(c, acl); chunks.append(c)
            # XAttrFeatureProto (field 9): one compact xattr - engines
            # must skip features they do not model
            xa = bytearray()
            e = bytearray()
            tag(e, 1, 5)
            e.extend(struct.pack("<I", 0x04000001))
            bytes_field(e, 2, b"v1")
            tag(xa, 1, 2)
            delimited(xa, e)
            c = bytearray(); tag(c, 9, 2); delimited(c, xa); chunks.append(c)
        c = bytearray(); uint_field(c, 10, r["storage_policy"]); chunks.append(c)
        if r["is_ec"]:
            c = bytearray(); uint_field(c, 11, 1); chunks.append(c)  # STRIPED
            c = bytearray(); uint_field(c, 12, r["ec_policy"]); chunks.append(c)
        body = assemble(chunks)
        mc = []
        c = bytearray(); uint_field(c, 1, 1); mc.append(c)  # type FILE
        c = bytearray(); uint_field(c, 2, r["id"]); mc.append(c)
        c = bytearray(); bytes_field(c, 3, name.encode()); mc.append(c)
        c = bytearray(); tag(c, 4, 2); delimited(c, body); mc.append(c)
        m = assemble(mc)
    else:
        chunks = []
        c = bytearray(); uint_field(c, 1, r["mtime_ms"]); chunks.append(c)
        c = bytearray(); uint_field(c, 2, r["ns_quota"]); chunks.append(c)
        c = bytearray(); uint_field(c, 3, r["ds_quota"]); chunks.append(c)
        c = bytearray(); fixed64_field(c, 4, perm64); chunks.append(c)
        if r["has_acl"]:
            acl = bytearray()
            tag(acl, 2, 2)
            packed_acl = struct.pack("<I", 0x02000007)
            varint(acl, len(packed_acl))
            acl.extend(packed_acl)
            c = bytearray(); tag(c, 5, 2); delimited(c, acl); chunks.append(c)
        body = assemble(chunks)
        mc = []
        c = bytearray(); uint_field(c, 1, 2); mc.append(c)  # type DIRECTORY
        c = bytearray(); uint_field(c, 2, r["id"]); mc.append(c)
        c = bytearray(); bytes_field(c, 3, name.encode()); mc.append(c)
        c = bytearray(); tag(c, 5, 2); delimited(c, body); mc.append(c)
        m = assemble(mc)
    delimited(inode_sec, m)

# ---- INODE_DIR section: parent -> packed children ----
by_path = {r["path"]: r for r in rows}
children = {}
for r in rows:
    if r["path"] == "/":
        continue
    parent_path = r["path"].rsplit("/", 1)[0] or "/"
    children.setdefault(by_path[parent_path]["id"], []).append(r["id"])
dir_sec = bytearray()
parent_ids = sorted(children)
if rng:  # entry and child order are saver-internal too
    rng.shuffle(parent_ids)
for pid in parent_ids:
    e = bytearray()
    uint_field(e, 1, pid)
    kids = sorted(children[pid])
    if rng:
        rng.shuffle(kids)
    packed = bytearray()
    for c in kids:
        varint(packed, c)
    bytes_field(e, 2, bytes(packed))
    delimited(dir_sec, e)

# ---- SNAPSHOT section ----
snap_sec = bytearray()
hdr = bytearray()
uint_field(hdr, 1, 1)  # snapshotCounter
packed = bytearray()
for r in rows:
    if r["is_snap_root"]:
        varint(packed, r["id"])
bytes_field(hdr, 2, bytes(packed))
uint_field(hdr, 3, 0)  # numSnapshots
delimited(snap_sec, hdr)

# ---- SNAPSHOT_DIFF section: entries the engine does not model but a
# real image carries (DiffEntry{type,inodeId} messages) ----
sdiff_sec = bytearray()
for did, dtype in ((rows[0]["id"], 1), (rows[1]["id"], 2)):
    e = bytearray()
    uint_field(e, 1, dtype)
    uint_field(e, 2, did)
    delimited(sdiff_sec, e)

# ---- INODE_REFERENCE section ----
ref_sec = bytearray()
e = bytearray()
uint_field(e, 1, 16402)            # referredId
bytes_field(e, 2, b"renamed_in_snap")
uint_field(e, 3, 0)                # dstSnapshotId
uint_field(e, 4, 0)                # lastSnapshotId
delimited(ref_sec, e)

# ---- NS_INFO (NameSystemSection): always the FIRST section a genuine
# namenode writes (FSImageFormatProtobuf.Saver.saveInternal calls
# saveNameSystemSection first) ----
ns_sec = bytearray()
h = bytearray()
uint_field(h, 1, 1394003719)                  # namespaceId
uint_field(h, 2, 1000)                        # genstampV1
uint_field(h, 3, 1005)                        # genstampV2
uint_field(h, 4, 0)                           # genstampV1Limit
uint_field(h, 5, 1073741825 + max(r["id"] for r in rows) * 8)  # lastAllocatedBlockId
uint_field(h, 6, 4211)                        # transactionId
delimited(ns_sec, h)

# ---- FILES_UNDERCONSTRUCTION: FileUnderConstructionEntry{inodeId,
# fullPath} per UC file (the saver emits this section between INODE_DIR
# and the snapshot sections) ----
uc_sec = bytearray()
for r in rows:
    if r["is_file"] and r["is_uc"]:
        e = bytearray()
        uint_field(e, 1, r["id"])
        bytes_field(e, 2, r["path"].encode())
        delimited(uc_sec, e)

# ---- SECRET_MANAGER / CACHE_MANAGER / ERASURE_CODING headers ----
secret_sec = bytearray()
h = bytearray()
uint_field(h, 1, 5)
uint_field(h, 2, 12)
delimited(secret_sec, h)
cache_sec = bytearray()
h = bytearray()
uint_field(h, 1, 1)
delimited(cache_sec, h)
ec_sec = bytearray()
pol = bytearray()
uint_field(pol, 1, 1)
bytes_field(pol, 2, b"RS-6-3-1024k")
delimited(ec_sec, pol)

# ---- container: magic, sections, FileSummary, 4-byte length ----
# Physical section order mirrors the GENUINE saver
# (FSImageFormatProtobuf.Saver.saveInternal): NS_INFO first,
# ERASURE_CODING before INODE, FILES_UNDERCONSTRUCTION after INODE_DIR,
# snapshot family next, STRING_TABLE LAST. A decoder that assumes the
# string table physically precedes the inodes (tempting, since inode
# permissions need it) breaks on every real image — sections must be
# resolved through the FileSummary index, never by stream position.
out = bytearray(b"HDFSIMG1")
section_list = [("NS_INFO", ns_sec), ("ERASURE_CODING", ec_sec),
                ("INODE", inode_sec), ("INODE_DIR", dir_sec),
                ("FILES_UNDERCONSTRUCTION", uc_sec),
                ("SNAPSHOT", snap_sec),
                ("SNAPSHOT_DIFF", sdiff_sec),
                ("INODE_REFERENCE", ref_sec),
                ("SECRET_MANAGER", secret_sec),
                ("CACHE_MANAGER", cache_sec),
                ("STRING_TABLE", string_table)]
if rng:
    # UNKNOWN sections a future layout version could add — random name,
    # random opaque bytes; a decoder must resolve what it knows through
    # the index and skip the rest
    for i in range(rng.randint(2, 4)):
        junk = bytearray(rng.randbytes(rng.randint(8, 64)))
        section_list.append((f"FUTURE_SECTION_{i}", junk))
    # body placement is arbitrary — ONLY the FileSummary index is
    # authoritative (a decoder assuming e.g. STRING_TABLE last or
    # NS_INFO first breaks on this sweep, by design)
    rng.shuffle(section_list)
sections = []
for name, sec in section_list:
    payload = compress_section(sec)
    sections.append((name, len(out), len(payload)))
    out.extend(payload)
if rng:  # index entry order need not match body order either
    rng.shuffle(sections)
summary = bytearray()
uint_field(summary, 1, 1)                      # ondiskVersion
uint_field(summary, 2, (1 << 32) - 66)         # layoutVersion -66 as uint32
if codec:
    bytes_field(summary, 3, CODEC_CLASS[codec].encode())
for name, off, length in sections:
    s = bytearray()
    bytes_field(s, 1, name.encode())
    uint_field(s, 2, length)
    uint_field(s, 3, off)
    tag(summary, 4, 2)
    delimited(summary, s)
delim = bytearray()
delimited(delim, summary)
out.extend(delim)
out.extend(struct.pack(">i", len(delim)))

if len(argv) > 1:
    path = argv[1]
elif len(argv) > 0:
    # derive from the input, NEVER the tracked mini fixture — a forgotten
    # second arg must not overwrite fixtures/fsimage_mini.bin
    path = (flat_path[:-len("_flat.csv")] if flat_path.endswith("_flat.csv")
            else os.path.splitext(flat_path)[0]) + ".bin"
else:
    path = os.path.join(base, "fsimage_mini.bin")
with open(path, "wb") as fh:
    fh.write(bytes(out))
print(f"wrote {path}: {len(rows)} inodes, "
      f"{sum(len(v) for v in children.values())} dir links, "
      f"{sum(1 for r in rows if r['is_snap_root'])} snapshottable roots, "
      f"{len(out)} bytes")
