"""Compiles the engine and the benchmark harness from source.

The engine sources (`src/main/scala`) and the harness (`perfbench/src`)
are compiled together with the Scala compiler that ships in Spark's own
jar directory, against Spark's jars, into `<out>/classes`. A stamp of the
source contents makes a second call a no-op. No build tool, no network.

    python3 perfbench/build.py [out_dir]      (default: .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        d = os.path.join(h, "jars") if h else ""
        if d and os.path.isdir(d) and any(
                f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    raise SystemExit("build: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("build: no java executable")
    return exe


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources not found under {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(jars):
    return os.pathsep.join(os.path.join(jars, f)
                           for f in sorted(os.listdir(jars)) if f.endswith(".jar"))


def stamp(out_dir):
    """The source stamp of the classes last built into `out_dir`."""
    with open(os.path.join(out_dir, "classes.stamp")) as f:
        return f.read()


def build(out_dir):
    """Returns the runtime class path, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    cp = classpath(jars)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        args_file = os.path.join(out_dir, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(["-nowarn", "-d", classes, "-classpath", cp] + srcs))
        r = subprocess.run(
            [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main", "@" + args_file],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build: compilation failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + cp


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                          else os.path.join(ROOT, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    build(out)
    print("built", os.path.join(out, "classes"))
