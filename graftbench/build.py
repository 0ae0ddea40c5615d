"""Build file of the benchmark package.

Compiles the engine (src/main/scala of the checkout) and the benchmark's
own Scala sources (graftbench/src) with the Scala compiler that ships in
Spark's jar directory, into content-addressed directories under
.bench_build/. A directory is reused while its sources are unchanged.

    python3 graftbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark install on PATH whose
    jars/ holds the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(p) for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and os.path.isdir(d) and any(f.startswith("scala-compiler") for f in os.listdir(d)):
            return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))
    raise BuildError("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def scala_files(d):
    out = []
    for dp, _, fs in os.walk(d):
        out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(out_dir, files, classpath, log):
    """scalac `files` into `out_dir` (atomic: built in a temp dir, renamed)."""
    if os.path.isdir(out_dir):
        return
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(classpath), "-d", tmp] + files))
    tmpdir = os.path.join(os.path.dirname(out_dir), "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed (exit {rc}); see {log}")
    os.rename(tmp, out_dir)


def build(out_root):
    """Returns (classpath list, engine source digest)."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine = scala_files(engine_src)
    if not engine:
        raise BuildError(f"no engine sources under {engine_src}")
    bench = scala_files(os.path.join(HERE, "src"))
    jars = spark_jars()
    os.makedirs(out_root, exist_ok=True)
    log = os.path.join(out_root, "build.log")
    tag = ",".join(os.path.basename(j) for j in jars if "scala-compiler" in j)
    eh = digest(engine, tag)
    engine_out = os.path.join(out_root, "engine-" + eh[:16])
    compile_into(engine_out, engine, jars, log)
    bh = digest(bench, eh)
    bench_out = os.path.join(out_root, "bench-" + bh[:16])
    compile_into(bench_out, bench, [engine_out] + jars, log)
    return [bench_out, engine_out] + jars, eh


if __name__ == "__main__":
    try:
        cp, _ = build(os.path.join(ROOT, ".bench_build"))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(cp))
