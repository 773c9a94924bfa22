#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py <nna-dashboard|nna-tail|store-serve> <seed> <outdir>

The same seed always writes the same files. What it writes:

  nna-dashboard  ns.tsv          namespace as an `hdfs oiv -p Delimited` dump
                 requests.json   the request pool, each with its expected
                                 answer computed by DuckDB from the arrays
                                 the dump was rendered from
  nna-tail       ns.tsv          the same kind of namespace
                 segments/*.xml  OEV XML edit segments (`hdfs oev -p XML`)
                 expect.json     after every segment, the generator's own
                                 sequential replay: row count, an
                                 order-independent hash per maintained
                                 column, and the answers of the timed reads
  store-serve    docs.parquet, vecs.parquet   the base corpus
                 batch_NNNN_{bm,vec}.parquet  mutation batches
                 model.json      live ids, markers and queries per batch

Hash of a column: sum over rows of int(md5(path + TAB + value)[:8], 16),
with value rendered as Spark casts it to a string and null as \\N.
"""
import hashlib
import json
import os
import random
import sys
import urllib.parse

import numpy as np

NOW_MS = 1735689600000  # the program's fixed "now" (2025-01-01T00:00Z)
DAY_MS = 86400000
MIN_MS = 60000

# namespace shape: ~1.2k directories, ~24k files
N_USERS = 24
TOP = ["user", "data", "apps", "warehouse", "tmp"]
L2_PER_TOP = 8
L3_PER_L2 = 5
L4_PER_L3 = 5
FILES_PER_LEAF = 24
EXTS = [".parquet", ".orc", ".csv", ".log", ".gz", ".json", ".avro", ".txt", ""]
FILE_PERMS = [("-rw-r--r--", 644), ("-rw-r-----", 640),
              ("-rwxr-xr-x", 755), ("-rw-rw-r--+", 664)]
DIR_PERMS = [("drwxr-xr-x", 755), ("drwxrwx---", 770), ("drwxrwxrwt", 1777)]
POLICY_NAMES = {15: "LAZY_PERSIST", 12: "ALL_SSD", 10: "ONE_SSD", 7: "HOT",
                5: "WARM", 2: "COLD", 1: "PROVIDED"}

# tail: the edit ops of one segment
SEGMENTS = 8
NEW_FILES_PER_SEG = 250
NEW_DIRS_PER_SEG = 10
PATCHES_PER_SEG = 400
RENAMES_PER_SEG = 2
DELETES_PER_SEG = 2
NEW_ID_BASE = 1 << 40  # inode ids of created inodes: [2^40, 2^41)

# store: corpus, vectors and mutation batches
N_DOCS = 8000
DIM = 64
N_CLUSTERS = 48
VOCAB = 2500
BATCHES = 6
ADDS, DELETES, UPDATES = 60, 36, 24  # 1.5% of the corpus per batch
QUERIES_PER_CALL = 8
CALLS_PER_BATCH = 4


def users():
    return [f"u{i:02d}" for i in range(N_USERS)]


def group_of(u):
    return f"g{int(u[1:]) % 6}"


def fmt_minutes(ms):
    """epoch ms (whole minutes) -> 'yyyy-MM-dd HH:mm' (UTC), vectorized."""
    s = np.datetime_as_string(np.asarray(ms, dtype="int64").astype("datetime64[ms]")
                              .astype("datetime64[m]"), unit="m")
    return np.char.replace(s, "T", " ")


# ---------------------------------------------------------------- namespace

class Namespace:
    """Column arrays of a generated namespace in the program's final form."""

    def __init__(self, seed):
        rnd = np.random.default_rng(seed)
        us = users()
        paths, is_file, user, perm_s, perm = [], [], [], [], []

        def add_dir(p, u, k):
            paths.append(p); is_file.append(False); user.append(u)
            ps, pv = DIR_PERMS[k % len(DIR_PERMS)]
            perm_s.append(ps); perm.append(pv)

        # root
        paths.append("/"); is_file.append(False); user.append("hdfs")
        perm_s.append("drwxr-xr-x"); perm.append(755)
        leaves = []
        for t in TOP:
            add_dir(f"/{t}", "hdfs", 0)
            for a in range(L2_PER_TOP):
                owner = us[(a + len(t)) % N_USERS]
                p2 = f"/{t}/{owner}_{a:02d}" if t == "user" else f"/{t}/p{a:02d}"
                add_dir(p2, owner, a)
                for b in range(L3_PER_L2):
                    p3 = f"{p2}/s{b:02d}"
                    add_dir(p3, owner, b)
                    for c in range(L4_PER_L3):
                        p4 = f"{p3}/d{c:02d}"
                        add_dir(p4, owner, c)
                        leaves.append((p4, owner))
        n_dirs = len(paths)
        n_files = len(leaves) * FILES_PER_LEAF
        self.leaves = [p for p, _ in leaves]
        # files: attributes drawn per file, vectorized
        owner_of_leaf = np.repeat(np.array([us.index(o) for _, o in leaves]),
                                  FILES_PER_LEAF)
        foreign = rnd.random(n_files) < 0.25
        fu = np.where(foreign, rnd.integers(0, N_USERS, n_files), owner_of_leaf)
        ext = rnd.integers(0, len(EXTS), n_files)
        fperm = rnd.integers(0, len(FILE_PERMS), n_files)
        repl = rnd.choice(np.array([1, 2, 3, 3, 3, 3]), n_files)
        bs = np.where(rnd.random(n_files) < 0.8, 134217728, 268435456)
        size = np.floor(np.exp(rnd.normal(15.0, 3.0, n_files))).astype("int64")
        size = np.minimum(size, 1 << 40)
        size[rnd.random(n_files) < 0.05] = 0
        nblocks = np.where(size == 0, 0, (size + bs - 1) // bs)
        age_min = rnd.integers(0, 3 * 365 * 1440, n_files)
        mtime = NOW_MS - age_min * MIN_MS
        atime = np.minimum(NOW_MS, mtime + rnd.integers(0, 200 * 1440, n_files) * MIN_MS)
        for i, (p, _) in enumerate(leaves):
            base = i * FILES_PER_LEAF
            for j in range(FILES_PER_LEAF):
                k = base + j
                paths.append(f"{p}/f{j:03d}{EXTS[ext[k]]}")
        is_file.extend([True] * n_files)
        user.extend(us[u] for u in fu)
        perm_s.extend(FILE_PERMS[k][0] for k in fperm)
        perm.extend(FILE_PERMS[k][1] for k in fperm)
        n = len(paths)
        self.path = paths
        self.is_file = np.array(is_file)
        self.user = user
        self.group = ["hdfs" if u == "hdfs" else group_of(u) for u in user]
        self.perm_s = perm_s
        self.permission = np.array(perm, dtype="int64")
        # directories: mtime random, atime the epoch (the dump's 1970 rendering)
        d_age = rnd.integers(0, 3 * 365 * 1440, n_dirs)
        self.modTime = np.concatenate([NOW_MS - d_age * MIN_MS, mtime]).astype("int64")
        self.accessTime = np.concatenate([np.zeros(n_dirs, "int64"), atime]).astype("int64")
        z = np.zeros(n_dirs, "int64")
        self.fileSize = np.concatenate([z, size]).astype("int64")
        self.blockSize = np.concatenate([z, bs]).astype("int64")
        self.numBlocks = np.concatenate([z, nblocks]).astype("int64")
        self.fileReplica = np.concatenate([z, repl]).astype("int64")
        # quotas on a fifth of the level-2 directories
        nsq = np.full(n, -1, "int64"); dsq = np.full(n, -1, "int64")
        for i in range(n_dirs):
            if paths[i].count("/") == 2 and rnd.random() < 0.2:
                nsq[i] = int(rnd.integers(5000, 50000))
                dsq[i] = int(rnd.integers(1, 100)) << 40
        self.nsQuota, self.dsQuota = nsq, dsq

    def write_tsv(self, out):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.csv as pcsv

        def when(ms):
            return pc.strftime(pa.array(ms).cast(pa.timestamp("ms", tz="UTC")),
                               format="%Y-%m-%d %H:%M")
        isf = self.is_file
        t = pa.table({
            "Path": self.path, "Replication": self.fileReplica,
            "ModificationTime": when(self.modTime), "AccessTime": when(self.accessTime),
            "PreferredBlockSize": self.blockSize, "BlocksCount": self.numBlocks,
            "FileSize": self.fileSize,
            "NSQUOTA": np.where(isf, 0, self.nsQuota), "DSQUOTA": np.where(isf, 0, self.dsQuota),
            "Permission": self.perm_s, "UserName": self.user, "GroupName": self.group})
        pcsv.write_csv(t, out, pcsv.WriteOptions(delimiter="\t", quoting_style="none"))

    def derived_columns(self):
        if not hasattr(self, "_derived"):
            name, parent, depth = [], [], []
            for p in self.path:
                nm, par, d = derived(p)
                name.append(nm); parent.append(par); depth.append(d)
            self._derived = name, parent, depth
        return self._derived

    def arrow(self):
        import pyarrow as pa
        name, parent, depth = self.derived_columns()
        return pa.table({
            "path": self.path, "name": name, "parent": parent, "depth": depth,
            "isFile": self.is_file, "user": self.user, "group": self.group,
            "permission": self.permission, "accessTime": self.accessTime,
            "modTime": self.modTime, "fileSize": self.fileSize,
            "blockSize": self.blockSize, "numBlocks": self.numBlocks,
            "fileReplica": self.fileReplica,
            "storagePolicyId": np.zeros(len(self.path), "int64"),
            "isUnderConstruction": np.zeros(len(self.path), bool),
            "nsQuota": self.nsQuota, "dsQuota": self.dsQuota,
        })


# ------------------------------------------------------------- dashboard

def canon_lines(rows, sort=True):
    lines = [",".join("" if v is None else str(v) for v in r) for r in rows]
    return "\n".join(sorted(lines) if sort else lines)


def canon_objects(rows, cols):
    return "\n".join("|".join(f"{c}={v}" for c, v in sorted(zip(cols, r))) for r in rows)


def time_bucket_sql(c, unit_ms, nbins, unit_name):
    age = f"({NOW_MS} - {c})"
    idx = f"greatest(({age} + {unit_ms - 1}) // {unit_ms}, 1)"
    return (f"CASE WHEN {age} < 0 THEN 'NO_MAPPING' WHEN {idx} <= {nbins} "
            f"THEN CAST({idx} AS VARCHAR) || ' {unit_name}' ELSE '{nbins} {unit_name}+' END")


SPACE_BINS = [("0 B", 0), ("1 KB", 1 << 10), ("1 MB", 1 << 20), ("16 MB", 16 << 20),
              ("64 MB", 64 << 20), ("128 MB", 128 << 20), ("256 MB", 256 << 20),
              ("512 MB", 512 << 20), ("1 GB", 1 << 30)]


def space_bucket_sql(c):
    return "CASE " + " ".join(f"WHEN {c} <= {b} THEN '{l}'" for l, b in SPACE_BINS) + \
        " ELSE '1 GB+' END"


def dashboard(seed, out):
    import duckdb
    ns = Namespace(seed)
    ns.write_tsv(os.path.join(out, "ns.tsv"))
    con = duckdb.connect()
    t = ns.arrow()
    con.register("t", t)
    con.execute("CREATE TABLE inodes AS SELECT * FROM t")
    con.execute("CREATE VIEW files AS SELECT * FROM inodes WHERE isFile")
    con.execute("CREATE VIEW dirs AS SELECT * FROM inodes WHERE NOT isFile")
    rnd = random.Random(seed)
    us = users()
    pick_u = rnd.sample(us, 4)
    l2 = sorted({p.rsplit("/", 2)[0] for p in ns.leaves})
    pick_d = rnd.sample(l2, 3)
    size_gt = rnd.choice([1 << 20, 16 << 20, 128 << 20])
    older_days = rnd.choice([90, 180, 365])
    q = lambda sql: con.execute(sql).fetchall()
    reqs = []

    def add(url, kind, expected):
        reqs.append({"url": url, "kind": kind, "expected": expected})

    for u in pick_u[:1]:
        r = q(f"SELECT count(*), sum(fileSize), sum(fileSize*fileReplica) FROM files WHERE \"user\"='{u}'")
        add(f"/filter?set=files&filters=user:eq:{u}&sum=count,fileSize,diskspaceConsumed",
            "lines", canon_lines([[v] for v in r[0]], sort=False))
    r = q(f"SELECT count(*), sum(numBlocks) FROM files WHERE fileSize > {size_gt} "
          f"AND modTime <= {NOW_MS - older_days * DAY_MS}")
    add(f"/filter?set=files&filters=fileSize:gt:{size_gt},modTime:olderThanDays:{older_days}"
        f"&sum=count,numBlocks", "lines", canon_lines([[v] for v in r[0]], sort=False))
    for d in rnd.sample(l2, len(l2)):
        r = q(f"SELECT path, fileSize FROM files WHERE starts_with(path, '{d}/') "
              f"ORDER BY fileSize DESC LIMIT 2")
        if len(r) == 2 and r[0][1] != r[1][1]:  # the program breaks ties by inode id
            add(f"/filter?set=files&filters=path:startsWith:{d}/&find=max:fileSize",
                "lines", canon_lines([r[0]]))
            break
    add("/histogram?set=files&type=user&sum=fileSize&histogramOutput=csv", "csv",
        canon_lines(q("SELECT \"user\", sum(fileSize) FROM files GROUP BY 1")))
    add("/histogram?set=files&type=fileSize&histogramOutput=csv", "csv",
        canon_lines(q(f"SELECT {space_bucket_sql('fileSize')}, count(*) FROM files GROUP BY 1")))
    add("/histogram?set=files&type=modTime&timeRange=monthly&histogramOutput=csv", "csv",
        canon_lines(q(f"SELECT {time_bucket_sql('modTime', 30 * DAY_MS, 23, 'Months')}, "
                      "count(*) FROM files GROUP BY 1")))
    add("/histogram?set=files&type=accessTime&timeRange=weekly&sum=diskspaceConsumed"
        "&histogramOutput=csv", "csv",
        canon_lines(q(f"SELECT {time_bucket_sql('accessTime', 7 * DAY_MS, 49, 'Weeks')}, "
                      "sum(fileSize*fileReplica) FROM files GROUP BY 1")))
    add("/histogram?set=files&type=parentDir&parentDirDepth=2&histogramOutput=csv", "csv",
        canon_lines(q("SELECT array_to_string(string_split(path, '/')[1:3], '/'), count(*) "
                      "FROM files WHERE depth - 1 >= 2 GROUP BY 1")))
    add("/histogram?set=files&type=user&find=max:fileSize&histogramOutput=csv", "csv",
        canon_lines(q("SELECT \"user\", max(fileSize) FROM files GROUP BY 1")))
    add("/histogram2?set=files&type=user&type2=fileReplica&histogramOutput=csv", "csv",
        canon_lines(q("SELECT \"user\", CAST(fileReplica AS VARCHAR), count(*) "
                      "FROM files GROUP BY 1, 2")))
    add("/histogram3?set=files&type=group&sum=count,fileSize,numBlocks&histogramOutput=csv",
        "csv", canon_lines(q("SELECT \"group\", count(*), sum(fileSize), sum(numBlocks) "
                             "FROM files GROUP BY 1")))
    u = pick_u[3]
    r = q(f"SELECT CAST(floor(1000000.0::DOUBLE * (SELECT sum(fileSize) FROM files "
          f"WHERE \"user\"='{u}')::DOUBLE / (SELECT sum(fileSize) FROM files)::DOUBLE) AS BIGINT)")
    add(f"/divide?set1=files&filters1=user:eq:{u}&sum1=fileSize&set2=files&sum2=fileSize",
        "lines", canon_lines([r[0]]))
    d = pick_d[2]
    r = q(f"SELECT sum(CASE WHEN isFile THEN 1 ELSE 0 END), sum(CASE WHEN isFile THEN 0 ELSE 1 END),"
          f" sum(CASE WHEN isFile THEN fileSize ELSE 0 END),"
          f" sum(CASE WHEN isFile THEN fileSize * fileReplica ELSE 0 END)"
          f" FROM inodes WHERE starts_with(path, '{d}/') OR path = '{d}'")
    add(f"/contentSummary?path={d}", "json",
        canon_objects(r, ["fileCount", "dirCount", "length", "spaceConsumed"]))
    stmt = ("SELECT `user`, count(*) AS n, sum(fileSize) AS bytes FROM files "
            "WHERE fileReplica >= 3 GROUP BY `user`")
    add("/sql?sqlStatement=" + urllib.parse.quote(stmt, safe=""), "csv", canon_lines(q("SELECT \"user\", count(*), sum(fileSize) FROM files "
                             "WHERE fileReplica >= 3 GROUP BY 1")))
    add("/directories?depth=2&limit=20", "json", canon_objects(
        q("SELECT array_to_string(string_split(path, '/')[1:3], '/') AS p, count(*) AS n, "
          "sum(fileSize * fileReplica) FROM files WHERE depth > 2 GROUP BY 1 "
          "ORDER BY n DESC, p ASC LIMIT 20"),
        ["path", "numFiles", "diskspaceConsumed"]))
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump(reqs, f, indent=1)


# ------------------------------------------------------------------ tail

def h8(path, v):
    s = "\\N" if v is None else ("true" if v is True else "false" if v is False else str(v))
    return int(hashlib.md5(f"{path}\t{s}".encode()).hexdigest()[:8], 16)


# column order of a replay row
COLS = ["id", "path", "isFile", "user", "group", "permission", "accessTime", "modTime",
        "fileSize", "blockSize", "numBlocks", "fileReplica", "storagePolicyId",
        "isUnderConstruction", "nsQuota", "dsQuota", "name", "parent", "depth"]
HASHED = [c for c in COLS if c != "id"]
CI = {c: i for i, c in enumerate(COLS)}


def derived(path):
    if path == "/":
        return "/", None, 0
    d = path.count("/")
    return path.rsplit("/", 1)[1], ("/" if d == 1 else path.rsplit("/", 1)[0]), d


def month_bucket(t):
    age = NOW_MS - t
    if age < 0:
        return "NO_MAPPING"
    idx = max((age + 30 * DAY_MS - 1) // (30 * DAY_MS), 1)
    return f"{idx} Months" if idx <= 23 else "23 Months+"


def tail_reads(u_pick):
    """The timed reads of `nna-tail`: (name, query string, one row's
    (key, values) in Python, files-only?, the same as SQL (key, values,
    extra predicate) for the initial namespace)."""
    fs, rep = CI["fileSize"], CI["fileReplica"]
    policy_sql = "CASE storagePolicyId " + " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in POLICY_NAMES.items()) + " ELSE 'NO_MAPPING' END"
    return [
        ("total", "set=files&sum=count,fileSize,diskspaceConsumed",
         lambda r: ("", (1, r[fs], r[fs] * r[rep])), True,
         ("''", ["1", "fileSize", "fileSize * fileReplica"], "TRUE")),
        ("byUser", "set=files&type=user&sum=fileSize",
         lambda r: (r[CI["user"]], (r[fs],)), True, ('"user"', ["fileSize"], "TRUE")),
        ("byMonth", "set=files&type=modTime&timeRange=monthly",
         lambda r: (month_bucket(r[CI["modTime"]]), (1,)), True,
         (time_bucket_sql("modTime", 30 * DAY_MS, 23, "Months"), ["1"], "TRUE")),
        ("byReplica", "set=files&type=fileReplica",
         lambda r: (str(r[rep]), (1,)), True, ("CAST(fileReplica AS VARCHAR)", ["1"], "TRUE")),
        ("dirs", "set=dirs&sum=count", lambda r: ("", (1,)), False, ("''", ["1"], "TRUE")),
        ("byTop", "set=files&type=parentDir&parentDirDepth=1",
         lambda r: (("/" + r[CI["path"]].split("/")[1]) if r[CI["depth"]] >= 2 else None, (1,)),
         True, ("'/' || split_part(path, '/', 2)", ["1"], "depth >= 2")),
        ("byPolicy", "set=files&type=storageType&sum=fileSize",
         lambda r: (POLICY_NAMES.get(r[CI["storagePolicyId"]], "NO_MAPPING"), (r[fs],)), True,
         (policy_sql, ["fileSize"], "TRUE")),
        ("oneUser", f"set=files&filters=user:eq:{u_pick}&sum=count,numBlocks",
         lambda r: ("", (1, r[CI["numBlocks"]])) if r[CI["user"]] == u_pick else (None, None),
         True, ("''", ["1", "numBlocks"], f"\"user\" = '{u_pick}'")),
    ]


class Replay:
    """Sequential replay of the edit ops, one op at a time, keeping the
    per-column hashes and the timed reads' aggregates current."""

    def __init__(self, rows, reads, hashes, aggs):
        self.rows = rows  # path -> row in COLS order
        self.reads = reads
        self.hash = hashes
        self.agg = aggs
        self.children = {}
        for p in rows:
            if p != "/":
                self.children.setdefault(p.rsplit("/", 1)[0] or "/", set()).add(p)

    def _contrib(self, r, sign):
        p = r[CI["path"]]
        for c in HASHED:
            self.hash[c] += sign * h8(p, r[CI[c]])
        if NEW_ID_BASE <= r[0] < 2 * NEW_ID_BASE:
            self.hash["id"] += sign * h8(p, r[0])
        for i, (_, _, f, files_only, _) in enumerate(self.reads):
            if files_only != r[CI["isFile"]]:
                continue
            k, v = f(r)
            if k is None:
                continue
            a = self.agg[i].get(k)
            if a is None:
                a = [0] * (len(v) + 1)
                self.agg[i][k] = a
            a[0] += sign
            for j, x in enumerate(v):
                a[j + 1] += sign * x
            if a[0] == 0:
                del self.agg[i][k]

    def _link(self, p, add):
        par = p.rsplit("/", 1)[0] or "/"
        if add:
            self.children.setdefault(par, set()).add(p)
        else:
            self.children[par].discard(p)

    def put(self, r):
        p = r[CI["path"]]
        old = self.rows.get(p)
        if old is not None:
            self._contrib(old, -1)
        else:
            self._link(p, True)
        self.rows[p] = r
        self._contrib(r, 1)

    def patch(self, path, **kv):
        old = self.rows[path]
        new = list(old)
        for k, v in kv.items():
            new[CI[k]] = v
        self._contrib(old, -1)
        self.rows[path] = new
        self._contrib(new, 1)

    def subtree(self, src):
        out, todo = [], [src]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(self.children.get(p, ()))
        return out

    def delete(self, src):
        self._link(src, False)
        for p in self.subtree(src):
            self.children.pop(p, None)
            self._contrib(self.rows.pop(p), -1)

    def rename(self, src, dst):
        moved = self.subtree(src)
        self._link(src, False)
        rows = [self.rows.pop(p) for p in moved]
        for p in moved:
            self.children.pop(p, None)
        for r in rows:
            self._contrib(r, -1)
        for r in rows:
            r = list(r)
            r[CI["path"]] = dst + r[CI["path"]][len(src):]
            r[CI["name"]], r[CI["parent"]], r[CI["depth"]] = derived(r[CI["path"]])
            self.rows[r[CI["path"]]] = r
            self._link(r[CI["path"]], True)
            self._contrib(r, 1)

    def answers(self):
        """Each read rendered as the harness renders its collected rows:
        scalar reads one line of sums, histograms one `key,value` line per
        key (see `canon_lines`)."""
        out = {}
        for i, (name, qs, _, _, _) in enumerate(self.reads):
            if "type=" in qs:
                out[name] = canon_lines([[k] + a[1:] for k, a in self.agg[i].items()])
            else:
                out[name] = canon_lines([self.agg[i][""][1:]])
        return out


def oev_record(op, txid, fields):
    x = [f"  <RECORD>\n    <OPCODE>{op}</OPCODE>\n    <DATA>\n      <TXID>{txid}</TXID>\n"]
    for k, v in fields:
        if k == "BLOCK":
            for bid, nb in v:
                x.append(f"      <BLOCK>\n        <BLOCK_ID>{bid}</BLOCK_ID>\n"
                         f"        <NUM_BYTES>{nb}</NUM_BYTES>\n        <GENSTAMP>1001</GENSTAMP>\n"
                         "      </BLOCK>\n")
        elif k == "PERMISSION_STATUS":
            u, g, m = v
            x.append(f"      <PERMISSION_STATUS>\n        <USERNAME>{u}</USERNAME>\n"
                     f"        <GROUPNAME>{g}</GROUPNAME>\n        <MODE>{m}</MODE>\n"
                     "      </PERMISSION_STATUS>\n")
        else:
            x.append(f"      <{k}>{v}</{k}>\n")
    x.append("    </DATA>\n  </RECORD>\n")
    return "".join(x)


def octal_mode(perm):  # 644 -> 0o644 as a decimal number
    return int(str(perm), 8)


def tail(seed, out):
    import duckdb
    ns = Namespace(seed)
    ns.write_tsv(os.path.join(out, "ns.tsv"))
    rnd = random.Random(seed * 7919 + 1)
    us = users()
    reads = tail_reads(rnd.choice(us))
    # initial state hashes and aggregates in DuckDB, one pass each
    con = duckdb.connect()
    t = ns.arrow()
    con.register("t", t)
    exprs = ", ".join(
        f"sum(('0x' || substr(md5(path || chr(9) || "
        f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N')), 1, 8))::BIGINT)" for c in HASHED)
    hashes = dict(zip(HASHED, con.execute(f"SELECT {exprs} FROM t").fetchone()))
    hashes["id"] = 0
    aggs = []
    for _, _, _, files_only, (key, vals, where) in reads:
        sel = ", ".join(f"sum({v})" for v in vals)
        res = con.execute(f"SELECT {key}, count(*), {sel} FROM t WHERE "
                          f"{'isFile' if files_only else 'NOT isFile'} AND {where} "
                          f"GROUP BY 1").fetchall()
        aggs.append({k: [int(x) for x in rest] for k, *rest in res})
    name, parent, depth = ns.derived_columns()
    n = len(ns.path)
    rows = dict(zip(ns.path, zip(
        [0] * n, ns.path, ns.is_file.tolist(), ns.user, ns.group, ns.permission.tolist(),
        ns.accessTime.tolist(), ns.modTime.tolist(), ns.fileSize.tolist(),
        ns.blockSize.tolist(), ns.numBlocks.tolist(), ns.fileReplica.tolist(),
        [0] * n, [False] * n, ns.nsQuota.tolist(), ns.dsQuota.tolist(), name, parent, depth)))
    rp = Replay(rows, reads, hashes, aggs)
    file_paths = [p for p in rows if rows[p][CI["isFile"]]]
    leaf_dirs = list(ns.leaves)
    seg_dir = os.path.join(out, "segments")
    os.makedirs(seg_dir, exist_ok=True)
    txid = 1
    next_id = NEW_ID_BASE
    expect = []

    def live_file(exclude):
        while True:
            p = file_paths[rnd.randrange(len(file_paths))]
            r = rows.get(p)
            if r is not None and r[CI["isFile"]] and p not in exclude:
                return p

    def live_leaf():
        while True:
            d = leaf_dirs[rnd.randrange(len(leaf_dirs))]
            if d in rows:
                return d

    for s in range(SEGMENTS):
        recs = []
        new_this_seg = set()  # closed or created here: TIMES must not touch them

        def op(name, fields):
            nonlocal txid
            txid += 1
            recs.append(oev_record(name, txid, fields))
            return txid

        # a segment is four bulk chunks split by structural ops
        structural = (["rename"] * RENAMES_PER_SEG + ["delete"] * DELETES_PER_SEG)
        rnd.shuffle(structural)
        n_chunks = len(structural) + 1
        for ch in range(n_chunks):
            # creations: new dirs, then new files (ADD + CLOSE)
            for _ in range(NEW_DIRS_PER_SEG // n_chunks + (1 if ch < NEW_DIRS_PER_SEG % n_chunks else 0)):
                parent = live_leaf()
                p = f"{parent}/n{s:02d}_{txid}"
                u = rows[parent][CI["user"]]
                ts = NOW_MS - rnd.randrange(0, 30 * 1440) * MIN_MS
                i_d = next_id; next_id += 1
                op("OP_MKDIR", [("LENGTH", 0), ("INODEID", i_d), ("PATH", p), ("TIMESTAMP", ts),
                                ("PERMISSION_STATUS", (u, group_of(u) if u != "hdfs" else "hdfs", 493))])
                nm, par, dp = derived(p)
                rp.put([i_d, p, False, u, group_of(u) if u != "hdfs" else "hdfs", 755, ts, ts,
                        0, 0, 0, 0, 0, False, -1, -1, nm, par, dp])
                leaf_dirs.append(p)
                new_this_seg.add(p)
            for _ in range(NEW_FILES_PER_SEG // n_chunks):
                parent = live_leaf()
                p = f"{parent}/w{txid}{EXTS[rnd.randrange(len(EXTS))]}"
                u = us[rnd.randrange(N_USERS)]
                g = group_of(u)
                repl = rnd.choice([1, 2, 3, 3])
                bs = 134217728
                ts = NOW_MS - rnd.randrange(0, 60 * 1440) * MIN_MS
                perm = rnd.choice([644, 640, 755])
                i_f = next_id; next_id += 1
                op("OP_ADD", [("LENGTH", 0), ("INODEID", i_f), ("PATH", p), ("REPLICATION", repl),
                              ("MTIME", ts), ("ATIME", ts), ("BLOCKSIZE", bs),
                              ("CLIENT_NAME", "DFSClient_bench"), ("CLIENT_MACHINE", "10.0.0.1"),
                              ("OVERWRITE", "false"), ("PERMISSION_STATUS", (u, g, octal_mode(perm)))])
                nm, par, dp = derived(p)
                rp.put([i_f, p, True, u, g, perm, ts, ts, 0, bs, 0, repl, 0, True, -1, -1,
                        nm, par, dp])
                nb = rnd.randrange(0, 4)
                blocks = [(1073741824 + txid * 4 + k, rnd.randrange(1, bs)) for k in range(nb)]
                cts = ts + rnd.randrange(1, 600) * 1000
                op("OP_CLOSE", [("LENGTH", 0), ("INODEID", 0), ("PATH", p), ("REPLICATION", repl),
                                ("MTIME", cts), ("ATIME", cts), ("BLOCKSIZE", bs),
                                ("BLOCK", blocks), ("PERMISSION_STATUS", (u, g, octal_mode(perm)))])
                rp.patch(p, fileSize=sum(b for _, b in blocks), numBlocks=nb, modTime=cts,
                         isUnderConstruction=False)
                file_paths.append(p)
                new_this_seg.add(p)
            # attribute patches on files that existed before this segment
            for _ in range(PATCHES_PER_SEG // n_chunks):
                p = live_file(new_this_seg)
                k = rnd.randrange(6)
                if k == 0:
                    v = rnd.choice([1, 2, 3, 4])
                    op("OP_SET_REPLICATION", [("PATH", p), ("REPLICATION", v)])
                    rp.patch(p, fileReplica=v)
                elif k == 1:
                    u = us[rnd.randrange(N_USERS)]
                    op("OP_SET_OWNER", [("SRC", p), ("USERNAME", u), ("GROUPNAME", group_of(u))])
                    rp.patch(p, user=u, group=group_of(u))
                elif k == 2:
                    v = rnd.choice([600, 640, 644, 750])
                    op("OP_SET_PERMISSIONS", [("SRC", p), ("MODE", octal_mode(v))])
                    rp.patch(p, permission=v)
                elif k == 3:
                    m = NOW_MS - rnd.randrange(0, 700 * 1440) * MIN_MS
                    a = rnd.choice([-1, NOW_MS - rnd.randrange(0, 30 * 1440) * MIN_MS])
                    op("OP_TIMES", [("LENGTH", 0), ("PATH", p), ("MTIME", m), ("ATIME", a)])
                    if a >= 0:
                        rp.patch(p, modTime=m, accessTime=a)
                    else:
                        rp.patch(p, modTime=m)
                elif k == 4:
                    v = rnd.choice([2, 5, 7, 10, 12])
                    op("OP_SET_STORAGE_POLICY", [("PATH", p), ("POLICYID", v)])
                    rp.patch(p, storagePolicyId=v)
                else:
                    d = live_leaf()
                    nsq = rnd.randrange(1000, 100000)
                    dsq = rnd.randrange(1, 50) << 40
                    op("OP_SET_QUOTA", [("SRC", d), ("NSQUOTA", nsq), ("DSQUOTA", dsq)])
                    rp.patch(d, nsQuota=nsq, dsQuota=dsq)
            if ch < len(structural):
                src = live_leaf()
                ts = NOW_MS - rnd.randrange(0, 1440) * MIN_MS
                if structural[ch] == "rename":
                    dst = src.rsplit("/", 1)[0] + f"/r{txid}"
                    op("OP_RENAME_OLD", [("LENGTH", 0), ("SRC", src), ("DST", dst), ("TIMESTAMP", ts)])
                    moved = rp.subtree(src)
                    rp.rename(src, dst)
                    leaf_dirs.append(dst)
                    file_paths.extend(dst + p[len(src):] for p in moved)
                    new_this_seg.update(dst + p[len(src):] for p in moved if p in new_this_seg)
                else:
                    op("OP_DELETE", [("LENGTH", 0), ("PATH", src), ("TIMESTAMP", ts)])
                    rp.delete(src)
        with open(os.path.join(seg_dir, f"seg_{s + 1:04d}.xml"), "w") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<EDITS>\n'
                    "  <EDITS_VERSION>-66</EDITS_VERSION>\n")
            f.write("".join(recs))
            f.write("</EDITS>\n")
        expect.append({"ops": len(recs), "rows": len(rows), "hash": dict(rp.hash),
                       "reads": rp.answers()})
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump({"reads": [[nm, qs] for nm, qs, _, _, _ in reads], "segments": expect}, f)


# ----------------------------------------------------------------- store

def marker(i):
    return f"zq{np.base_repr(i, 36).lower()}"


def store(seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rnd = np.random.default_rng(seed)
    centers = rnd.normal(0, 1, (N_CLUSTERS, DIM))
    weights = 1.0 / np.arange(1, VOCAB + 1)
    weights /= weights.sum()

    def vec(n):
        c = rnd.integers(0, N_CLUSTERS, n)
        return (centers[c] + rnd.normal(0, 0.35, (n, DIM))).astype("float32")

    def text(ids):
        out = []
        for i in ids:
            n = int(rnd.integers(8, 20))
            ws = rnd.choice(VOCAB, n, p=weights)
            out.append(" ".join([f"w{w}" for w in ws] + [marker(int(i))]))
        return out

    def vec_col(v):
        return pa.array(list(v), type=pa.list_(pa.float32()))

    ids = np.arange(N_DOCS, dtype="int64")
    docs_text = text(ids)
    vecs = vec(N_DOCS)
    pq.write_table(pa.table({"doc_id": ids, "text": docs_text}), os.path.join(out, "docs.parquet"))
    pq.write_table(pa.table({"vec_id": ids, "embedding": vec_col(vecs)}),
                   os.path.join(out, "vecs.parquet"))
    live = {int(i): (docs_text[i], vecs[i]) for i in ids}
    next_id = N_DOCS
    batches = []
    deleted = []
    for b in range(BATCHES):
        live_ids = np.fromiter(live.keys(), dtype="int64")
        pick = rnd.choice(live_ids, DELETES + UPDATES, replace=False)
        dels, ups = pick[:DELETES], pick[DELETES:]
        adds = np.arange(next_id, next_id + ADDS, dtype="int64")
        next_id += ADDS
        add_text = text(adds)
        add_vec = vec(ADDS)
        up_text = text(ups)
        up_vec = vec(UPDATES)
        bm = {"op": ["add"] * ADDS + ["delete"] * DELETES + ["update"] * UPDATES,
              "doc_id": np.concatenate([adds, dels, ups]),
              "text": add_text + [live[int(i)][0] for i in dels] + up_text,
              "old_text": [None] * ADDS + [None] * DELETES + [live[int(i)][0] for i in ups]}
        vv = {"op": bm["op"], "vec_id": bm["doc_id"],
              "embedding": vec_col(np.concatenate([add_vec, np.stack([live[int(i)][1] for i in dels]),
                                                   up_vec]))}
        pq.write_table(pa.table(bm), os.path.join(out, f"batch_{b:04d}_bm.parquet"))
        pq.write_table(pa.table(vv), os.path.join(out, f"batch_{b:04d}_vec.parquet"))
        for i in dels:
            deleted.append((int(i), live[int(i)][0].split()[-1], live[int(i)][1]))
            del live[int(i)]
        for k, i in enumerate(ups):
            live[int(i)] = (up_text[k], up_vec[k])
        for k, i in enumerate(adds):
            live[int(i)] = (add_text[k], add_vec[k])
        # queries of this batch's calls: the first carries a fresh add's
        # marker and vector, the second a deleted doc's; the rest are topical
        calls = []
        live_ids = np.fromiter(live.keys(), dtype="int64")
        for c in range(CALLS_PER_BATCH):
            qs = []
            for qn in range(QUERIES_PER_CALL):
                qid = b * 1000 + c * 100 + qn
                if c == 0 and qn == 0:
                    a = int(adds[int(rnd.integers(0, ADDS))])
                    qs.append({"qid": qid, "terms": [marker(a)], "vec": live[a][1].tolist(),
                               "must": a})
                elif c == 1 and qn == 0 and deleted:
                    i, mk, v = deleted[int(rnd.integers(0, len(deleted)))]
                    qs.append({"qid": qid, "terms": [mk], "vec": v.tolist(), "never": i})
                else:
                    src = int(live_ids[int(rnd.integers(0, len(live_ids)))])
                    t = live[src][0].split()[:-1]
                    terms = [t[int(j)] for j in rnd.integers(0, len(t), 2)]
                    v = live[src][1] + rnd.normal(0, 0.1, DIM).astype("float32")
                    qs.append({"qid": qid, "terms": terms, "vec": v.tolist()})
            calls.append({"masked": c % 2 == 1, "queries": qs})
        batches.append({"adds": adds.tolist(), "deletes": dels.tolist(),
                        "rows": ADDS + DELETES + UPDATES, "calls": calls})
    with open(os.path.join(out, "model.json"), "w") as f:
        json.dump({"base": N_DOCS, "batches": batches}, f)


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    {"nna-dashboard": dashboard, "nna-tail": tail, "store-serve": store}[workload](seed, out)


if __name__ == "__main__":
    main()
