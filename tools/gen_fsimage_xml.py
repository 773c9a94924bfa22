#!/usr/bin/env python3
"""Deterministic generator for fixtures/fsimage_mini.xml — a mini HDFS
namespace in the public `hdfs oiv -p XML` format (Hadoop's
PBImageXmlWriter): an <INodeSection> of <inode> records carrying the fields
the Delimited writer DROPS (real inode ids, storagePolicyId, ecPolicyId,
inline <file-under-construction>, <acls>), an <INodeDirectorySection> of
parent→child id links (paths must be RECONSTRUCTED from the links — the
XML has no path column), and a <SnapshotSection> naming snapshottable dirs.

Also writes fixtures/fsimage_mini_flat.csv: the ground-truth relation with
explicit paths, authored directly by this script. The Spark side re-derives
every path from the id links, so a DuckDB oracle over the flat CSV
hash-checks the whole XML parse + path reconstruction + field recovery.

Conventions mirrored by graft.ingest.FsImageXmlSource (documented there):
  - permission is "user:group:0755"-style; the engine keeps the last three
    octal digits as decimal digits (sticky 1777 → 777), matching the
    Delimited parser's triad output.
  - nsquota 9223372036854775807 (the unlimited sentinel on /) maps to -1.
  - EC files carry <ecPolicyId> and NO <replication> element.
  - isWithSnapshot = inode inside the subtree (inclusive) of a
    snapshottable dir.

The XML is checked in; this script documents its provenance.
Regenerate with: python3 tools/gen_fsimage_xml.py
Scale mode: `gen_fsimage_xml.py <n_files> <out_prefix>` writes
<out_prefix>.xml / <out_prefix>_flat.csv with n_files files spread over
dirs of ~1000 (3-level tree) — for ScaleBench's `ingest_oivxml_*` stages,
which read /tmp/fsimage_big.xml:
  python3 tools/gen_fsimage_xml.py 1000000 /tmp/fsimage_big
  sbt "runMain graft.ScaleBench 100000 100000 ingest_oivxml"
"""
import os
import sys

QUOTA_UNLIMITED = 9223372036854775807

dirs = []   # (id, path, user, grp, perm, mtime, nsq, dsq, snap_root)
files = []  # (id, path, user, grp, perm, mtime, atime, bs, blocks[], spid,
            #  ec, uc, acl, repl)

def d(id_, path, user="hdfs", grp="hdfs", perm="0755", mtime=1672531200000,
      nsq=-1, dsq=-1, snap_root=False):
    dirs.append((id_, path, user, grp, perm, mtime, nsq, dsq, snap_root))

d(16385, "/", nsq=QUOTA_UNLIMITED)
d(16386, "/data", mtime=1675240200000, nsq=5000, dsq=50000000000)
d(16387, "/data/raw", mtime=1675328400000)
d(16388, "/data/clean", mtime=1675418100000, dsq=8000000000)
d(16389, "/data/raw/2024", mtime=1704067500000)
d(16390, "/data/raw/2025", mtime=1735689900000)
d(16391, "/user", mtime=1672920000000)
d(16392, "/user/alice", "alice", "eng", mtime=1677656700000, nsq=100)
d(16393, "/user/bob", "bob", "eng", mtime=1677743100000)
d(16394, "/user/bob/proj", "bob", "eng", mtime=1718475600000)
d(16395, "/tmp", perm="1777", mtime=1672531800000)
d(16396, "/empty", mtime=1735689540000)
d(16397, "/snap", mtime=1680000000000, snap_root=True)
d(16398, "/snap/deep", mtime=1680086400000)
# special-bits coverage: a setgid shared dir (2775) — with /tmp's sticky
# 1777 and the setuid file below, all three special bits hit the doors
d(16399, "/user/shared", "hdfs", "eng", perm="2775", mtime=1690000000000)

leaf_dirs = ["/data/raw/2024", "/data/raw/2025", "/data/clean",
             "/user/alice", "/user/bob/proj", "/tmp", "/snap/deep"]

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 30
if N_FILES > 30:
    # scale mode: batch dirs under /data/raw/2024, ~1000 files each
    nid = 17000
    for b in range(N_FILES // 1000 + 1):
        d(nid, f"/data/raw/2024/b{b:05d}",
          nsq=(5000 if b % 10 == 0 else -1))
        leaf_dirs.append(f"/data/raw/2024/b{b:05d}")
        nid += 1
users = [("alice", "eng"), ("bob", "eng"), ("carol", "data"), ("hdfs", "hdfs")]
exts = [".parquet", ".csv", ".log", ".gz", ""]
# every 17th file is setuid (4755) — special-bits digit through the
# file path of all three ingest doors
perms = ["0644", "0755", "0660", "0644"]
spids = [0, 2, 5, 7, 10, 12]   # storage policies incl. COLD/WARM/HOT/SSD

FILE_ID0 = 16400 if N_FILES <= 30 else 100000
for i in range(N_FILES):
    fid = FILE_ID0 + i
    parent = leaf_dirs[7 + i % (len(leaf_dirs) - 7)] if N_FILES > 30 \
        else leaf_dirs[i % len(leaf_dirs)]
    user, grp = users[i % 4]
    path = f"{parent}/f{i:03d}{exts[i % 5]}"
    mtime = 1672531200000 + i * 13 * 86400000
    atime = mtime + 3600000
    bs = 268435456 if i % 3 == 0 else 134217728
    if i % 10 == 9:
        blocks = []                        # empty file
    else:
        blocks = [(i * 1234567 + j * 777) % 200000000 + 5
                  for j in range(i % 3 + 1)]
    ec = i % 9 == 4
    uc = i % 11 == 6
    acl = i % 7 == 3
    repl = 0 if ec else i % 5 + 1
    # real Hadoop built-in policy ids (SystemErasureCodingPolicies):
    # 2=RS-3-2-1024k, 1=RS-6-3-1024k, 5=RS-10-4-1024k
    ecpid = [2, 1, 5][(i // 9) % 3] if ec else 0
    fperm = "4755" if i % 17 == 13 else perms[i % 4]
    files.append((fid, path, user, grp, fperm, mtime, atime, bs,
                  blocks, spids[i % 6], ec, uc, acl, repl, ecpid))

# ---- XML ----
out = ['<?xml version="1.0"?>', "<fsimage>",
       "<version><layoutVersion>-66</layoutVersion>"
       "<onDiskVersion>1</onDiskVersion><oivRevision>fixture</oivRevision>"
       "</version>",
       "<NameSection><namespaceId>314159</namespaceId>"
       "<genstampV1>1000</genstampV1><genstampV2>1010</genstampV2>"
       "<lastAllocatedBlockId>1073741900</lastAllocatedBlockId>"
       "<txid>4242</txid></NameSection>",
       f"<INodeSection><lastInodeId>{FILE_ID0 + len(files)}</lastInodeId>"
       f"<numInodes>{len(dirs) + len(files)}</numInodes>"]

for (id_, path, user, grp, perm, mtime, nsq, dsq, _snap) in dirs:
    name = "" if path == "/" else path.rsplit("/", 1)[1]
    out.append(
        f"<inode><id>{id_}</id><type>DIRECTORY</type><name>{name}</name>"
        f"<mtime>{mtime}</mtime><permission>{user}:{grp}:{perm}</permission>"
        f"<nsquota>{nsq}</nsquota><dsquota>{dsq}</dsquota></inode>")

for (fid, path, user, grp, perm, mtime, atime, bs, blocks, spid, ec, uc,
     acl, repl, ecpid) in files:
    name = path.rsplit("/", 1)[1]
    parts = [f"<inode><id>{fid}</id><type>FILE</type><name>{name}</name>"]
    if not ec:
        parts.append(f"<replication>{repl}</replication>")
    parts.append(f"<mtime>{mtime}</mtime><atime>{atime}</atime>"
                 f"<preferredBlockSize>{bs}</preferredBlockSize>"
                 f"<permission>{user}:{grp}:{perm}</permission>")
    if acl:
        parts.append("<acls><acl>user:other:r--</acl></acls>")
    if blocks:
        parts.append("<blocks>" + "".join(
            f"<block><id>{1073741825 + fid * 8 + j}</id>"
            f"<genstamp>{1001 + j}</genstamp><numBytes>{n}</numBytes></block>"
            for j, n in enumerate(blocks)) + "</blocks>")
    if uc:
        parts.append("<file-under-construction>"
                     "<clientName>DFSClient_fixture</clientName>"
                     "<clientMachine>10.0.0.1</clientMachine>"
                     "</file-under-construction>")
    parts.append(f"<storagePolicyId>{spid}</storagePolicyId>")
    if ec:
        parts.append(f"<ecPolicyId>{ecpid}</ecPolicyId>")
    parts.append("</inode>")
    out.append("".join(parts))
out.append("</INodeSection>")

# directory section: parent -> children links (ids only, no paths)
children = {}
for (id_, path, *_rest) in dirs:
    if path == "/":
        continue
    parent_path = path.rsplit("/", 1)[0] or "/"
    pid = next(d_[0] for d_ in dirs if d_[1] == parent_path)
    children.setdefault(pid, []).append(id_)
for f in files:
    parent_path = f[1].rsplit("/", 1)[0]
    pid = next(d_[0] for d_ in dirs if d_[1] == parent_path)
    children.setdefault(pid, []).append(f[0])

out.append("<INodeDirectorySection>")
for pid in sorted(children):
    kids = "".join(f"<child>{c}</child>" for c in sorted(children[pid]))
    out.append(f"<directory><parent>{pid}</parent>{kids}</directory>")
out.append("</INodeDirectorySection>")

snap_ids = [d_[0] for d_ in dirs if d_[8]]
out.append("<SnapshotSection><snapshotCounter>1</snapshotCounter>" + "".join(
    f"<snapshottableDir><dir>{i}</dir></snapshottableDir>"
    for i in snap_ids) + "</SnapshotSection>")

uc_files = [f for f in files if f[11]]
out.append("<FileUnderConstructionSection>" + "".join(
    f"<inode><id>{f[0]}</id><path>{f[1]}</path></inode>"
    for f in uc_files) + "</FileUnderConstructionSection>")

# ---- real-Hadoop sections the engine must TOLERATE (robustness): a
# SnapshotDiffSection whose created-lists contain name-only <inode> stubs
# (they must not leak into the inode set - no <type>), an
# INodeReferenceSection, SecretManager/CacheManager sections, and an
# ErasureCodingSection with a full policy schema ----
snap_root_id = snap_ids[0]
out.append(
    "<SnapshotDiffSection>"
    f"<dirDiffEntry><inodeId>{snap_root_id}</inodeId><count>2</count>"
    "<dirDiff><snapshotId>0</snapshotId><childrenSize>3</childrenSize>"
    "<isSnapshotRoot/><name></name>"
    "<created><inode><name>ghost_created.txt</name></inode>"
    "<inode><name>ghost_created2.log</name></inode></created>"
    "<deleted><inode><name>ghost_deleted.dat</name></inode></deleted>"
    "</dirDiff></dirDiffEntry>"
    f"<fileDiffEntry><inodeId>{files[0][0]}</inodeId><count>1</count>"
    "<fileDiff><snapshotId>0</snapshotId><size>1024</size><name></name>"
    "</fileDiff></fileDiffEntry>"
    "</SnapshotDiffSection>")
out.append(
    "<INodeReferenceSection>"
    "<ref><referredId>16402</referredId><name>renamed_in_snap</name>"
    "<dstSnapshotId>0</dstSnapshotId><lastSnapshotId>0</lastSnapshotId></ref>"
    "</INodeReferenceSection>")
out.append(
    "<SecretManagerSection><currentId>5</currentId>"
    "<tokenSequenceNumber>12</tokenSequenceNumber><numDelegationKeys>0</numDelegationKeys>"
    "<numTokens>0</numTokens></SecretManagerSection>")
out.append(
    "<CacheManagerSection><nextDirectiveId>1</nextDirectiveId>"
    "<numDirectives>0</numDirectives><numPools>0</numPools></CacheManagerSection>")
out.append(
    "<ErasureCodingSection><erasureCodingPolicy><policyId>1</policyId>"
    "<policyName>RS-6-3-1024k</policyName><cellSize>1048576</cellSize>"
    "<policyState>ENABLED</policyState><ecSchema><codecName>rs</codecName>"
    "<dataUnits>6</dataUnits><parityUnits>3</parityUnits></ecSchema>"
    "</erasureCodingPolicy></ErasureCodingSection>")
out.append("</fsimage>")

# ---- flat ground truth ----
flat = ["id,path,is_file,usr,grp,perm,mtime_ms,atime_ms,block_size,"
        "num_blocks,file_size,replication,storage_policy,is_ec,is_uc,"
        "has_acl,ns_quota,ds_quota,is_snap_root,ec_policy"]
for (id_, path, user, grp, perm, mtime, nsq, dsq, snap) in dirs:
    nsq_truth = -1 if nsq == QUOTA_UNLIMITED else nsq
    flat.append(f"{id_},{path},false,{user},{grp},{int(perm)},{mtime},"
                f"{mtime},0,0,0,0,0,false,false,false,{nsq_truth},{dsq},"
                f"{str(snap).lower()},0")
for (fid, path, user, grp, perm, mtime, atime, bs, blocks, spid, ec, uc,
     acl, repl, ecpid) in files:
    flat.append(f"{fid},{path},true,{user},{grp},{int(perm)},{mtime},"
                f"{atime},{bs},{len(blocks)},{sum(blocks)},{repl},{spid},"
                f"{str(ec).lower()},{str(uc).lower()},{str(acl).lower()},"
                f"-1,-1,false,{ecpid}")

if len(sys.argv) > 2:
    xml_path, flat_path = sys.argv[2] + ".xml", sys.argv[2] + "_flat.csv"
else:
    base = os.path.join(os.path.dirname(__file__), "..", "fixtures")
    xml_path = os.path.join(base, "fsimage_mini.xml")
    flat_path = os.path.join(base, "fsimage_mini_flat.csv")
with open(xml_path, "w") as fh:
    fh.write("\n".join(out) + "\n")
with open(flat_path, "w") as fh:
    fh.write("\n".join(flat) + "\n")
print(f"wrote {len(dirs)} dirs + {len(files)} files "
      f"({len(uc_files)} UC, {sum(1 for f in files if f[10])} EC, "
      f"{len(snap_ids)} snapshottable roots)")
