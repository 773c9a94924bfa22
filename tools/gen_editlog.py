#!/usr/bin/env python3
"""Deterministic generator for the edit-log fixtures — the S4
between-snapshot freshness surface (reference: `NameNodeLoader.java:382-390`
tails the edit log to keep its namespace current between fsimages).

Writes three files from one authored op list:

  fixtures/editlog_mini.xml      the op stream in the public OEV XML shape
                                 (`hdfs oev -p XML`, Hadoop's
                                 XmlEditsVisitor) — what the Spark-side
                                 parser ingests;
  fixtures/editlog_mini_ops.csv  the same ops as a flat table — the DuckDB
                                 oracle for the parse census;
  fixtures/editlog_mini_post.csv the namespace AFTER replaying the ops over
                                 fixtures/fsimage_mini_flat.csv one at a
                                 time — the classic sequential replay a
                                 namenode performs, implemented here
                                 INDEPENDENTLY of the engine's distributed
                                 apply, so `nna_editlog_apply` checks
                                 distributed-chunked ≡ sequential.

Op coverage: START/END_LOG_SEGMENT, MKDIR, ADD (create + OVERWRITE),
CLOSE (finalize with blocks), DELETE (subtree), RENAME_OLD (subtree + file),
SET_REPLICATION, SET_PERMISSIONS, SET_OWNER, TIMES (-1 = unchanged),
SET_QUOTA, SET_STORAGE_POLICY, TRUNCATE (new length + mtime), APPEND
(reopen, uc=true). The sequence deliberately RECREATES a renamed-away path and then
adds into it — the interleaving that breaks any apply that reorders
creations across structural ops. It also renames a file out of the
snapshottable /snap, creates under /snap and renames a subtree into it:
`isWithSnapshot` follows the tree (the oracle derives it from the carried
`is_snap_root` flag), so these three cases pin that the engine does too.

MODE in OEV XML is the decimal of the full octal mode (0755 -> 493); the
engine keeps the octal digits as decimal digits INCLUDING the special-bits
digit (0o1750=1000 -> 1750), exactly like its fsimage permission parse.

Regenerate with: python3 tools/gen_editlog.py
"""
import csv
import os

base = os.path.join(os.path.dirname(__file__), "..", "fixtures")

# (txid, opcode, dict of fields)
OPS = [
    (1, "OP_START_LOG_SEGMENT", {}),
    (2, "OP_MKDIR", dict(path="/data/raw/2026", inode_id=16500,
                         usr="hdfs", grp="hdfs", mode="755",
                         ts=1735700000000)),
    (3, "OP_ADD", dict(path="/data/raw/2026/jan.log", inode_id=16501,
                       usr="alice", grp="eng", mode="644", repl=3,
                       bs=134217728, ts=1735700100000, overwrite=False)),
    (4, "OP_CLOSE", dict(path="/data/raw/2026/jan.log", inode_id=16501,
                         usr="alice", grp="eng", mode="644", repl=3,
                         bs=134217728, ts=1735700200000,
                         blocks=[2200000])),
    (5, "OP_ADD", dict(path="/data/raw/2026/feb.log", inode_id=16502,
                       usr="bob", grp="eng", mode="640", repl=2,
                       bs=134217728, ts=1735700300000, overwrite=False)),
    (6, "OP_CLOSE", dict(path="/data/raw/2026/feb.log", inode_id=16502,
                         usr="bob", grp="eng", mode="640", repl=2,
                         bs=134217728, ts=1735700400000,
                         blocks=[20000000, 14500000])),
    (7, "OP_SET_REPLICATION", dict(path="/data/raw/2026/jan.log", repl=2)),
    (8, "OP_SET_OWNER", dict(path="/data/clean", usr="carol", grp="data")),
    (9, "OP_SET_PERMISSIONS", dict(path="/tmp", mode="1750")),  # keeps sticky
    (10, "OP_TIMES", dict(path="/user/alice", mtime=1735700500000,
                          atime=-1)),
    (11, "OP_SET_QUOTA", dict(path="/user/bob", nsq=500, dsq=-1)),
    (12, "OP_RENAME_OLD", dict(path="/data/raw/2025",
                               dst="/data/archive2025",
                               ts=1735700600000)),
    # recreate the renamed-away path, then create under it: these two rows
    # must NOT land under /data/archive2025
    (13, "OP_MKDIR", dict(path="/data/raw/2025", inode_id=16503,
                          usr="hdfs", grp="hdfs", mode="755",
                          ts=1735700700000)),
    (14, "OP_ADD", dict(path="/data/raw/2025/late.log", inode_id=16504,
                        usr="carol", grp="data", mode="644", repl=3,
                        bs=134217728, ts=1735700800000, overwrite=False)),
    (15, "OP_CLOSE", dict(path="/data/raw/2025/late.log", inode_id=16504,
                          usr="carol", grp="data", mode="644", repl=3,
                          bs=134217728, ts=1735700900000,
                          blocks=[777216])),
    # a flagged inode leaves the snapshottable /snap: no longer flagged
    (16, "OP_RENAME_OLD", dict(path="/snap/deep/f020.parquet",
                               dst="/data/f020.parquet",
                               ts=1735700950000)),
    (17, "OP_DELETE", dict(path="/snap/deep", ts=1735701000000)),
    (18, "OP_ADD", dict(path="/user/alice/f003.gz", inode_id=16505,
                        usr="alice", grp="eng", mode="644", repl=2,
                        bs=268435456, ts=1735701100000, overwrite=True)),
    (19, "OP_CLOSE", dict(path="/user/alice/f003.gz", inode_id=16505,
                          usr="alice", grp="eng", mode="644", repl=2,
                          bs=268435456, ts=1735701200000,
                          blocks=[123456])),
    (20, "OP_TIMES", dict(path="/tmp/f005.parquet", mtime=1735701300000,
                          atime=1735701400000)),
    (21, "OP_RENAME_OLD", dict(path="/tmp/f012.log",
                               dst="/tmp/renamed_f012.log",
                               ts=1735701500000)),
    (22, "OP_SET_STORAGE_POLICY", dict(path="/data/clean/f002.log",
                                       policy=7)),
    (23, "OP_TRUNCATE", dict(path="/data/clean/f023.gz",
                             newlength=1000000, ts=1735701600000)),
    (24, "OP_APPEND", dict(path="/tmp/f019")),
    (25, "OP_CONCAT_DELETE", dict(path="/data/raw/2024/f007.log",
                                  srcs=["/data/raw/2024/f000.parquet",
                                        "/data/raw/2024/f014"],
                                  ts=1735701700000)),
    # a creation under the snapshottable /snap, and an unflagged subtree
    # renamed into it: both flagged in the post-state
    (26, "OP_MKDIR", dict(path="/snap/inbox", inode_id=16506,
                          usr="hdfs", grp="hdfs", mode="755",
                          ts=1735701800000)),
    (27, "OP_ADD", dict(path="/snap/inbox/a.csv", inode_id=16507,
                        usr="alice", grp="eng", mode="644", repl=2,
                        bs=134217728, ts=1735701900000, overwrite=False)),
    (28, "OP_CLOSE", dict(path="/snap/inbox/a.csv", inode_id=16507,
                          usr="alice", grp="eng", mode="644", repl=2,
                          bs=134217728, ts=1735702000000,
                          blocks=[4096])),
    (29, "OP_RENAME_OLD", dict(path="/user/bob/proj", dst="/snap/proj",
                               ts=1735702100000)),
    (30, "OP_END_LOG_SEGMENT", {}),
]


def mode_dec(octal_str):
    return int(octal_str, 8)


def perm_digits(octal_str):
    return int(octal_str)  # '755' -> 755 (decimal digits of octal triad)


# ---- OEV XML ----
def esc(s):
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


xml = ['<?xml version="1.0" encoding="UTF-8"?>', "<EDITS>",
       "  <EDITS_VERSION>-66</EDITS_VERSION>"]
blkid = 1073750000
for txid, opcode, f in OPS:
    xml.append("  <RECORD>")
    xml.append(f"    <OPCODE>{opcode}</OPCODE>")
    xml.append("    <DATA>")
    xml.append(f"      <TXID>{txid}</TXID>")
    if opcode in ("OP_ADD", "OP_CLOSE"):
        xml.append("      <LENGTH>0</LENGTH>")
        xml.append(f"      <INODEID>{f['inode_id'] if opcode == 'OP_ADD' else 0}</INODEID>")
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append(f"      <REPLICATION>{f['repl']}</REPLICATION>")
        xml.append(f"      <MTIME>{f['ts']}</MTIME>")
        xml.append(f"      <ATIME>{f['ts']}</ATIME>")
        xml.append(f"      <BLOCKSIZE>{f['bs']}</BLOCKSIZE>")
        if opcode == "OP_ADD":
            xml.append("      <CLIENT_NAME>DFSClient_fixture</CLIENT_NAME>")
            xml.append("      <CLIENT_MACHINE>10.0.0.1</CLIENT_MACHINE>")
            xml.append(f"      <OVERWRITE>{str(f['overwrite']).lower()}</OVERWRITE>")
        else:
            xml.append("      <CLIENT_NAME/>")
            xml.append("      <CLIENT_MACHINE/>")
        for nb in f.get("blocks", []):
            blkid += 1
            xml.append("      <BLOCK>")
            xml.append(f"        <BLOCK_ID>{blkid}</BLOCK_ID>")
            xml.append(f"        <NUM_BYTES>{nb}</NUM_BYTES>")
            xml.append("        <GENSTAMP>1009</GENSTAMP>")
            xml.append("      </BLOCK>")
        xml.append("      <PERMISSION_STATUS>")
        xml.append(f"        <USERNAME>{f['usr']}</USERNAME>")
        xml.append(f"        <GROUPNAME>{f['grp']}</GROUPNAME>")
        xml.append(f"        <MODE>{mode_dec(f['mode'])}</MODE>")
        xml.append("      </PERMISSION_STATUS>")
    elif opcode == "OP_MKDIR":
        xml.append("      <LENGTH>0</LENGTH>")
        xml.append(f"      <INODEID>{f['inode_id']}</INODEID>")
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append(f"      <TIMESTAMP>{f['ts']}</TIMESTAMP>")
        xml.append("      <PERMISSION_STATUS>")
        xml.append(f"        <USERNAME>{f['usr']}</USERNAME>")
        xml.append(f"        <GROUPNAME>{f['grp']}</GROUPNAME>")
        xml.append(f"        <MODE>{mode_dec(f['mode'])}</MODE>")
        xml.append("      </PERMISSION_STATUS>")
    elif opcode == "OP_DELETE":
        xml.append("      <LENGTH>0</LENGTH>")
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append(f"      <TIMESTAMP>{f['ts']}</TIMESTAMP>")
    elif opcode == "OP_RENAME_OLD":
        xml.append("      <LENGTH>0</LENGTH>")
        xml.append(f"      <SRC>{esc(f['path'])}</SRC>")
        xml.append(f"      <DST>{esc(f['dst'])}</DST>")
        xml.append(f"      <TIMESTAMP>{f['ts']}</TIMESTAMP>")
    elif opcode == "OP_SET_REPLICATION":
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append(f"      <REPLICATION>{f['repl']}</REPLICATION>")
    elif opcode == "OP_SET_PERMISSIONS":
        xml.append(f"      <SRC>{esc(f['path'])}</SRC>")
        xml.append(f"      <MODE>{mode_dec(f['mode'])}</MODE>")
    elif opcode == "OP_SET_OWNER":
        xml.append(f"      <SRC>{esc(f['path'])}</SRC>")
        xml.append(f"      <USERNAME>{f['usr']}</USERNAME>")
        xml.append(f"      <GROUPNAME>{f['grp']}</GROUPNAME>")
    elif opcode == "OP_TIMES":
        xml.append("      <LENGTH>0</LENGTH>")
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append(f"      <MTIME>{f['mtime']}</MTIME>")
        xml.append(f"      <ATIME>{f['atime']}</ATIME>")
    elif opcode == "OP_SET_QUOTA":
        xml.append(f"      <SRC>{esc(f['path'])}</SRC>")
        xml.append(f"      <NSQUOTA>{f['nsq']}</NSQUOTA>")
        xml.append(f"      <DSQUOTA>{f['dsq']}</DSQUOTA>")
    elif opcode == "OP_SET_STORAGE_POLICY":
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append(f"      <POLICYID>{f['policy']}</POLICYID>")
    elif opcode == "OP_TRUNCATE":
        xml.append(f"      <SRC>{esc(f['path'])}</SRC>")
        xml.append("      <CLIENTNAME>DFSClient_fixture</CLIENTNAME>")
        xml.append("      <CLIENTMACHINE>10.0.0.1</CLIENTMACHINE>")
        xml.append(f"      <NEWLENGTH>{f['newlength']}</NEWLENGTH>")
        xml.append(f"      <TIMESTAMP>{f['ts']}</TIMESTAMP>")
    elif opcode == "OP_APPEND":
        xml.append(f"      <PATH>{esc(f['path'])}</PATH>")
        xml.append("      <CLIENT_NAME>DFSClient_fixture</CLIENT_NAME>")
        xml.append("      <CLIENT_MACHINE>10.0.0.1</CLIENT_MACHINE>")
        xml.append("      <NEWBLOCK>false</NEWBLOCK>")
    elif opcode == "OP_CONCAT_DELETE":
        xml.append("      <LENGTH>0</LENGTH>")
        xml.append(f"      <TRG>{esc(f['path'])}</TRG>")
        xml.append(f"      <TIMESTAMP>{f['ts']}</TIMESTAMP>")
        xml.append("      <SOURCES>")
        for i, s in enumerate(f["srcs"]):
            xml.append(f"        <SOURCE{i + 1}>{esc(s)}</SOURCE{i + 1}>")
        xml.append("      </SOURCES>")
    xml.append("    </DATA>")
    xml.append("  </RECORD>")
xml.append("</EDITS>")
with open(os.path.join(base, "editlog_mini.xml"), "w") as fh:
    fh.write("\n".join(xml) + "\n")

# ---- ops CSV (oracle for the parse census) ----
with open(os.path.join(base, "editlog_mini_ops.csv"), "w", newline="") as fh:
    w = csv.writer(fh)
    w.writerow(["txid", "opcode", "path", "inode_id", "dst", "usr", "grp",
                "perm", "mtime_ms", "atime_ms", "replication", "block_size",
                "file_size", "num_blocks", "ns_quota", "ds_quota",
                "policy_id", "new_length", "srcs", "overwrite"])
    for txid, opcode, f in OPS:
        blocks = f.get("blocks", [])
        w.writerow([
            txid, opcode, f.get("path", ""),
            f.get("inode_id", 0) if opcode != "OP_CLOSE" else 0,
            f.get("dst", ""), f.get("usr", ""), f.get("grp", ""),
            perm_digits(f["mode"]) if "mode" in f else -1,
            f.get("mtime", f.get("ts", -1)), f.get("atime", f.get("ts", -1)),
            f.get("repl", -1), f.get("bs", -1),
            sum(blocks) if blocks else -1, len(blocks) if blocks else -1,
            f.get("nsq", -9), f.get("dsq", -9),
            f.get("policy", -1), f.get("newlength", -1),
            ";".join(f.get("srcs", [])),
            str(f.get("overwrite", False)).lower()])

# ---- sequential replay -> post-state CSV ----
flat_path = os.path.join(base, "fsimage_mini_flat.csv")
rows = {r["path"]: r for r in csv.DictReader(open(flat_path))}
FIELDNAMES = list(next(iter(rows.values())).keys())


def new_row(path, is_file, f, ts):
    return dict(id=str(f["inode_id"]), path=path,
                is_file=str(is_file).lower(), usr=f["usr"], grp=f["grp"],
                perm=str(perm_digits(f["mode"])), mtime_ms=str(ts),
                atime_ms=str(ts),
                block_size=str(f.get("bs", 0)) if is_file else "0",
                num_blocks="0", file_size="0",
                replication=str(f.get("repl", 0)) if is_file else "0",
                storage_policy="0", is_ec="false",
                is_uc="true" if is_file else "false", has_acl="false",
                ns_quota="-1", ds_quota="-1", is_snap_root="false",
                ec_policy="0")


for txid, opcode, f in OPS:
    p = f.get("path")
    if opcode == "OP_MKDIR":
        rows[p] = new_row(p, False, f, f["ts"])
    elif opcode == "OP_ADD":
        # create (fresh or OVERWRITE): a new inode replaces any existing
        # row at the path — matching the engine's documented apply scope
        # (append-reopen is out of scope for both sides)
        rows[p] = new_row(p, True, f, f["ts"])
    elif opcode == "OP_CLOSE":
        r = rows[p]
        r["file_size"] = str(sum(f["blocks"]))
        r["num_blocks"] = str(len(f["blocks"]))
        r["mtime_ms"] = str(f["ts"])
        r["is_uc"] = "false"
    elif opcode == "OP_SET_REPLICATION":
        rows[p]["replication"] = str(f["repl"])
    elif opcode == "OP_SET_PERMISSIONS":
        rows[p]["perm"] = str(perm_digits(f["mode"]))
    elif opcode == "OP_SET_OWNER":
        rows[p]["usr"], rows[p]["grp"] = f["usr"], f["grp"]
    elif opcode == "OP_TIMES":
        if f["mtime"] >= 0:
            rows[p]["mtime_ms"] = str(f["mtime"])
        if f["atime"] >= 0:
            rows[p]["atime_ms"] = str(f["atime"])
    elif opcode == "OP_SET_QUOTA":
        rows[p]["ns_quota"] = str(f["nsq"])
        rows[p]["ds_quota"] = str(f["dsq"])
    elif opcode == "OP_SET_STORAGE_POLICY":
        rows[p]["storage_policy"] = str(f["policy"])
    elif opcode == "OP_TRUNCATE":
        rows[p]["file_size"] = str(f["newlength"])
        rows[p]["mtime_ms"] = str(f["ts"])
    elif opcode == "OP_APPEND":
        rows[p]["is_uc"] = "true"
    elif opcode == "OP_CONCAT_DELETE":
        trg = rows[p]
        trg["file_size"] = str(int(trg["file_size"]) +
                               sum(int(rows[s]["file_size"])
                                   for s in f["srcs"]))
        trg["num_blocks"] = str(int(trg["num_blocks"]) +
                                sum(int(rows[s]["num_blocks"])
                                    for s in f["srcs"]))
        trg["mtime_ms"] = str(f["ts"])
        for s in f["srcs"]:
            del rows[s]
    elif opcode == "OP_RENAME_OLD":
        src, dst = p, f["dst"]
        moved = [r for q, r in rows.items()
                 if q == src or q.startswith(src + "/")]
        for r in moved:
            del rows[r["path"]]
            r["path"] = dst + r["path"][len(src):]
            rows[r["path"]] = r
    elif opcode == "OP_DELETE":
        for q in [q for q in rows
                  if q == p or q.startswith(p + "/")]:
            del rows[q]

post = sorted(rows.values(), key=lambda r: int(r["id"]))
with open(os.path.join(base, "editlog_mini_post.csv"), "w", newline="") as fh:
    w = csv.DictWriter(fh, fieldnames=FIELDNAMES)
    w.writeheader()
    w.writerows(post)
print(f"wrote editlog_mini.xml ({len(OPS)} ops), editlog_mini_ops.csv, "
      f"editlog_mini_post.csv ({len(post)} inodes)")
