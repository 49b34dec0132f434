"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark driver (perfbench/scala)
into .bench_build/classes with the Scala compiler that ships in the
Spark distribution. No sbt is started, so no build server outlives the
build. A stamp of every source file's content skips the compile when
nothing changed.

    python3 perfbench/build.py [program checkout, default: ..]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def out_dir(root):
    return os.path.join(root, ".bench_build")


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the directory
    the sbt build declares as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if not os.path.exists(os.path.join(root, "build.sbt")):
        sys.exit("build: no Spark jars (set SPARK_HOME)")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(root):
    """The program's sources under `root` plus this benchmark's driver."""
    prog = glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                     recursive=True)
    if not prog:
        sys.exit("build: no program sources under %s/src/main/scala" % root)
    return sorted(prog) + sorted(glob.glob(
        os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def classpath(root):
    return (os.path.join(out_dir(root), "classes") + os.pathsep +
            os.path.join(spark_jars(root), "*"))


def build(root):
    """Compile if any source changed; returns seconds spent."""
    import fcntl
    import time
    t0 = time.monotonic()
    files = sources(root)
    out = out_dir(root)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        _compile(root, files)
    return time.monotonic() - t0


def _compile(root, files):
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(root), "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars,
         "scala.tools.nsc.Main", "-classpath", jars, "-d", classes,
         "-nowarn", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    print("build: %.1f s" % build(sys.argv[1] if len(sys.argv) > 1
                                  else os.path.dirname(HERE)))
