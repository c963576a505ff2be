"""Compiles the program (src/main) and then the benchmark's own Scala
sources against it, into perfbench/build/, with the Scala compiler that
ships among the Spark jars. No sbt. Each of the two outputs is keyed by
a hash of its source files, so an unchanged tree compiles once per
checkout.

    python3 perfbench/build.py      # prints the class path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(HERE, "build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: SPARK_HOME must name a Spark installation with a jars/ directory")
    return os.path.join(home, "jars", "*")


def _files(top, pattern):
    return sorted(f for f in glob.glob(os.path.join(top, "**", pattern), recursive=True)
                  if os.path.isfile(f))


def _compile(name, srcs, resource_root, classpath):
    """Compile `srcs` (plus copy the files under `resource_root`) into
    build/<name>-<hash>/classes unless that output already exists."""
    res = _files(resource_root, "*") if resource_root else []
    h = hashlib.sha1(classpath.encode())
    for f in srcs + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    out = os.path.join(BUILD, f"{name}-{h.hexdigest()[:12]}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    for old in glob.glob(os.path.join(BUILD, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", classes, "-classpath", classpath,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"perfbench: compiling {name} failed (exit {r.returncode})")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, resource_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, "OK"), "w").close()
    return classes


def ensure_built():
    """Return the run-time class path, compiling on a cache miss."""
    if not os.path.isdir(os.path.join(PROGRAM, "scala")):
        sys.exit(f"perfbench: no program sources under {os.path.relpath(PROGRAM, ROOT)}/scala")
    jars = spark_jars()
    program = _compile("program", _files(os.path.join(PROGRAM, "scala"), "*.scala"),
                       os.path.join(PROGRAM, "resources"), jars)
    bench = _compile("bench", _files(os.path.join(HERE, "scala"), "*.scala"), None,
                     os.pathsep.join([program, jars]))
    return os.pathsep.join([bench, program, jars])


if __name__ == "__main__":
    print(ensure_built())
