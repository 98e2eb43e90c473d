"""Builds the program and the benchmark's own Scala classes from source.

The program's sources (`src/main/scala`, `src/main/resources`) and the
benchmark's (`perfbench/scala`) are compiled in one `scalac` call with the
Scala compiler that ships in the Spark distribution's jars (`$SPARK_HOME`,
or the one whose `spark-submit` is on PATH), against those same jars, into
`.bench_build/classes-<hash>`. The hash covers every source byte, so a
checkout is built once and an edited source triggers a rebuild.

Run directly to build only: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `jars` beside a `bin/spark-submit`
    on PATH that holds a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler in its jars "
                     "(set SPARK_HOME)")


def _sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: %s not found; run from the root of a checkout" % main)
    scala = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(root, "perfbench", "scala", "*.scala")))
    res_root = os.path.join(root, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return scala, res_root, resources


def _out_dir(root):
    """The class directory of the checkout's current sources."""
    jars = spark_jars()
    scala, _, resources = _sources(root)
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])


def built(root):
    """Whether the current sources are already compiled."""
    return os.path.exists(os.path.join(_out_dir(root), ".ok"))


def build(root, log=sys.stderr):
    """Returns the classpath entry holding the compiled classes."""
    jars = spark_jars()
    scala, res_root, resources = _sources(root)
    base = os.path.join(root, ".bench_build")
    out = _out_dir(root)
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(base, "scalac-args.txt")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % p for p in scala))
    print("perfbench: compiling %d Scala files" % len(scala), file=log, flush=True)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("perfbench: scalac failed with exit code %d" % r.returncode)
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
