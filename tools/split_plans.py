#!/usr/bin/env python3
"""Split `graft.Cli explain` output into per-query plan files.

Usage:
  sbt "runMain graft.Cli explain <sf_dir>" > audit.log
  python3 tools/split_plans.py audit.log <out_dir> <suffix>
Writes <out_dir>/<query>_<suffix>.txt for each
`========== <query> ==========` section found in the log.
"""
import re, sys, os

def main(log: str, out_dir: str, suffix: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    text = open(log, errors="replace").read()
    # tolerate sbt's "[info] " line prefix (pre-StdoutOutput builds)
    text = re.sub(r"^\[info\] ", "", text, flags=re.M)
    parts = re.split(r"^========== (\S+) ==========\s*$", text, flags=re.M)
    # parts = [prefix, name1, body1, name2, body2, ...]
    n = 0
    for i in range(1, len(parts) - 1, 2):
        name, body = parts[i], parts[i + 1]
        # drop sbt/log noise lines, keep the plan text
        lines = [l for l in body.splitlines()
                 if not l.startswith("[") and "INFO " not in l
                 and "WARN " not in l]
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
            f.write("\n".join(lines).strip() + "\n")
        n += 1
    print(f"wrote {n} plans to {out_dir} (*_{suffix}.txt)")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
