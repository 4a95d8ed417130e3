#!/usr/bin/env python3
"""Class census: which compiled `graft.*` classes no run ever loaded.

    python3 tools/class_census.py --classes target/scala-2.13/classes LOG...

Each LOG is a JVM class-load log (`-Xlog:class+load:file=PATH`). Pass it to
every JVM a command starts through JAVA_TOOL_OPTIONS, with `%p` in the path
so that each JVM (sbt's own included) writes its own file:

    JAVA_TOOL_OPTIONS="-Xlog:class+load:file=/tmp/cl/verify_%p.log" \\
        sbt -batch 'runMain graft.Verify /root/testdata/sf0.001 /tmp/vout'
    JAVA_TOOL_OPTIONS="-Xlog:class+load:file=/tmp/cl/rec_%p.log" \\
        python3 perfbench/run.py --workload daily_rec --seed 1 --seconds 20
    python3 tools/class_census.py --classes target/scala-2.13/classes /tmp/cl/*.log

A class and its companion object (`X`, `X$`) count as one unit, and so do
the synthetic classes the compiler nests in it (`X$$anon$1`,
`X$$typecreator1$1`); a named nested class (`X$Y`) is a unit of its own.
Prints the never-loaded units in two lists: entry points (classes with a
`main(String[])` and the classes nested in them, which a census of other
mains cannot reach) and the rest, which no lane, gate or benchmark in the
logs ran. Exits 1 when the second list is not empty.
"""
import argparse
import os
import re
import subprocess
import sys

LOADED = re.compile(r"\[class,load\] (graft\.\S+) source:")


def unit(binary_name):
    """graft.x.A$$anon$1 -> graft.x.A, graft.x.A$ -> graft.x.A, A$B stays."""
    return binary_name.split("$$")[0].rstrip("$")


def compiled(classes_dir):
    names = []
    for root, _, files in os.walk(os.path.join(classes_dir, "graft")):
        for f in files:
            if f.endswith(".class"):
                rel = os.path.relpath(os.path.join(root, f[:-len(".class")]), classes_dir)
                names.append(rel.replace(os.sep, "."))
    return names


def with_main(classes_dir, units):
    """The units among `units` whose class declares a static main(String[])."""
    out, current = set(), None
    listing = subprocess.run(["javap", "-public", "-cp", classes_dir, *sorted(units)],
                             capture_output=True, text=True, check=True).stdout
    for line in listing.splitlines():
        m = re.match(r"(?:public |final |abstract )*(?:class|interface) (\S+)", line)
        if m:
            current = m.group(1)
        elif "public static void main(java.lang.String[])" in line:
            out.add(current)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--classes", required=True, help="compiled classes dir (holds graft/)")
    ap.add_argument("logs", nargs="+", help="-Xlog:class+load log files")
    args = ap.parse_args()

    names = compiled(args.classes)
    if not names:
        sys.exit(f"no graft classes under {args.classes}")
    units = {unit(n) for n in names}
    loaded = set()
    for path in args.logs:
        with open(path, errors="replace") as f:
            loaded.update(unit(m.group(1)) for m in map(LOADED.search, f) if m)
    never = sorted(units - loaded)
    # a top-level object's main is a static forwarder in its class file X;
    # a main's nested classes (X$Y) are listed with it
    outer = {u: u.split("$")[0] for u in never}
    top = sorted(set(outer.values()) & set(names))
    mains = with_main(args.classes, top) if top else set()
    entry = [u for u in never if outer[u] in mains]
    rest = [u for u in never if outer[u] not in mains]

    print(f"{len(loaded & units)} of {len(units)} graft units loaded "
          f"({len(names)} class files, {len(args.logs)} logs)")
    print(f"never loaded, entry points ({len(entry)}):")
    for u in entry:
        print(f"  {u}")
    print(f"never loaded, other ({len(rest)}):")
    for u in rest:
        print(f"  {u}")
    sys.exit(1 if rest else 0)


if __name__ == "__main__":
    main()
