"""Build file of the graft benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler shipped among the
Spark jars, into `.bench_build/` at the root of the checkout.

Each stage is keyed by a hash of its inputs, so an unchanged tree is not
compiled twice. Run directly to build: `python3 graftbench/build.py`.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    for d in [os.path.join(os.environ.get("SPARK_HOME", ""), "jars"),
              "/opt/spark/jars"]:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("graftbench: no Spark jars found (set SPARK_HOME)")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(files, classpath, out, log):
    tmp = out + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp] + files
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=850)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"graftbench: compile failed, see {log}")
    os.rename(tmp, out)


def build(root):
    """Compile what is stale; return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    graft_src = _sources(os.path.join(root, "src", "main", "scala"))
    if not graft_src:
        raise SystemExit("graftbench: no graft sources under src/main/scala")
    gkey = _digest(graft_src)
    gout = os.path.join(bdir, f"graft-{gkey}")
    if not os.path.isdir(gout):
        _compile(graft_src, jars, gout, gout + ".log")
    bench_src = _sources(os.path.join(HERE, "src"))
    bout = os.path.join(bdir, f"bench-{_digest(bench_src, gkey)}")
    if not os.path.isdir(bout):
        _compile(bench_src, jars + os.pathsep + gout, bout, bout + ".log")
    return os.pathsep.join([bout, gout, jars])


if __name__ == "__main__":
    print(build(os.getcwd()))
