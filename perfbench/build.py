"""Build file of the benchmark: compiles the repository's main sources and
the benchmark driver (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into `<build dir>/classes-{main,bench}`.

The sbt build is not used: it reads and writes caches in the home
directory, and the benchmark must read and write only inside its
checkout. A stamp over every source file skips rebuilding unchanged code.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repository build's
    own `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jars: set SPARK_HOME")


def _sources(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile what changed; return the runtime classpath."""
    if not os.path.isdir(MAIN_SRC) or not _sources(MAIN_SRC):
        raise BuildError(f"no program sources under {os.path.relpath(MAIN_SRC, ROOT)}")
    jars = spark_jars()
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    main_out, bench_out = os.path.join(bd, "classes-main"), os.path.join(bd, "classes-bench")
    spark_cp = os.path.join(jars, "*")
    main_files, bench_files = _sources(MAIN_SRC), _sources(BENCH_SRC)
    for out, files, cp in ((main_out, main_files, spark_cp),
                           (bench_out, bench_files, main_out + os.pathsep + spark_cp)):
        stamp = _stamp(files) + (open(main_out + ".stamp").read() if out == bench_out else "")
        stamp_file = out + ".stamp"
        if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        _scalac(jars, cp, out, files)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([bench_out, main_out, spark_cp])


def source_stamp():
    """Short digest of the program and driver sources the last build used."""
    path = os.path.join(build_dir(), "classes-bench.stamp")
    return hashlib.sha256(open(path).read().encode()).hexdigest()[:12]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
