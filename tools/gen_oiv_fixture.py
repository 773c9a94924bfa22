#!/usr/bin/env python3
"""Deterministic generator for fixtures/oiv_mini.tsv — a mini HDFS namespace
in the public `hdfs oiv -p Delimited` format (PBImageDelimitedTextWriter):
12 tab-separated columns, dates as 'yyyy-MM-dd HH:mm', permissions as
'drwxr-xr-x' strings ('+' suffix = ACL present), dirs carry NSQUOTA/DSQUOTA
(-1 = unset), files carry 0/0. The TSV is checked in; this script documents
its provenance. Regenerate with: python3 tools/gen_oiv_fixture.py
"""
import os
import sys

HEADER = ("Path\tReplication\tModificationTime\tAccessTime\tPreferredBlockSize"
          "\tBlocksCount\tFileSize\tNSQUOTA\tDSQUOTA\tPermission\tUserName\tGroupName")

rows = []

def dir_row(path, mod, perm="drwxr-xr-x", ns=-1, ds=-1, user="hdfs", group="hdfs"):
    rows.append(f"{path}\t0\t{mod}\t1970-01-01 00:00\t0\t0\t0\t{ns}\t{ds}\t{perm}\t{user}\t{group}")

def file_row(path, repl, mod, acc, bs, nblocks, size, perm, user, group):
    rows.append(f"{path}\t{repl}\t{mod}\t{acc}\t{bs}\t{nblocks}\t{size}\t0\t0\t{perm}\t{user}\t{group}")

dir_row("/", "2023-01-01 00:00", perm="drwxr-xr-x")
# quota dir at depth 1: exercises the deep-ancestor walk (files live at depth 4)
dir_row("/data", "2023-02-01 08:30", ns=5000, ds=50000000000)
dir_row("/data/raw", "2023-02-02 09:00")
dir_row("/data/clean", "2023-02-03 10:15", ds=8000000000)  # ds-only quota
dir_row("/data/raw/2024", "2024-01-01 00:05")
dir_row("/data/raw/2025", "2025-01-01 00:05")
dir_row("/user", "2023-01-05 12:00")
dir_row("/user/alice", "2023-03-01 07:45", ns=100, user="alice", group="eng")
dir_row("/user/bob", "2023-03-02 07:45", user="bob", group="eng")
dir_row("/user/bob/proj", "2024-06-15 18:20", user="bob", group="eng")
dir_row("/tmp", "2023-01-01 00:10", perm="drwxrwxrwt")  # sticky bit
dir_row("/empty", "2024-12-31 23:59")                   # dir with no children

users = [("alice", "eng"), ("bob", "eng"), ("carol", "data"), ("hdfs", "hdfs")]
exts = [".parquet", ".csv", ".log", ".gz", ""]
perms = ["-rw-r--r--", "-rwxr-xr-x", "-rw-rw----", "-rw-r--r--+"]  # last has ACL

# optional scale-stress mode: `gen_oiv_fixture.py <n_files> <out.tsv>`
# generates extra dirs under /data/raw/2024 so trees deepen with n;
# the default (no args) regenerates the checked-in 92-inode fixture.
# ScaleBench's `ingest_oiv_*` stages read /tmp/oiv_1m.tsv:
#   python3 tools/gen_oiv_fixture.py 1000000 /tmp/oiv_1m.tsv
#   sbt "runMain graft.ScaleBench 100000 100000 ingest_oiv_"
n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 80
if n_files > 80:
    for d in range(n_files // 1000 + 1):
        dir_row(f"/data/raw/2024/batch{d:04d}", "2024-02-01 00:00",
                ns=(5000 if d % 10 == 0 else -1))

for i in range(n_files):
    user, group = users[i % 4]
    year = 2023 + (i % 3)
    month = 1 + (i * 5) % 12
    day = 1 + (i * 7) % 28
    hh, mm = (i * 3) % 24, (i * 11) % 60
    mod = f"{year}-{month:02d}-{day:02d} {hh:02d}:{mm:02d}"
    acc = f"{year}-{month:02d}-{day:02d} {(hh + 1) % 24:02d}:{mm:02d}"
    size = (i * 7919) % 5 * 123456789 + i  # mix of small/large, i=0 -> 0 bytes
    bs = 134217728 if i % 3 else 268435456
    nblocks = 0 if size == 0 else 1 + size // bs
    repl = 1 + (i % 3)
    perm = perms[i % 4]
    ext = exts[i % 5]
    if n_files > 80:
        parent = f"/data/raw/2024/batch{i // 1000:04d}"
    else:
        parent = ["/data/raw/2024", "/data/raw/2025", "/data/clean",
                  "/user/alice", "/user/bob/proj", "/tmp"][i % 6]
    file_row(f"{parent}/f{i:03d}{ext}", repl, mod, acc, bs, nblocks, size, perm, user, group)

out = (sys.argv[2] if len(sys.argv) > 2 else
       os.path.join(os.path.dirname(__file__), "..", "fixtures", "oiv_mini.tsv"))
os.makedirs(os.path.dirname(out), exist_ok=True)
with open(out, "w") as f:
    f.write(HEADER + "\n")
    f.write("\n".join(rows) + "\n")
print(f"wrote {out}: {len(rows)} inodes")
