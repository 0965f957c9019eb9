"""Build the program and the benchmark harness from source.

Compiles `src/main/scala` (plus its resources) and `perfbench/src` with the
Scala compiler that ships in Spark's jars, so no build tool, network or
package cache is needed. Outputs go under the build directory and are
reused while the sources are unchanged.

    python3 perfbench/build.py            # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("no Spark jars found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def _files(top, suffix):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(name, sources, classpath, resources=None):
    """Compile `sources` into build_dir()/name unless the stamp matches."""
    out = os.path.join(build_dir(), name)
    stamp = out + ".stamp"
    key = _digest(sources)
    if resources:
        key += _digest(_files(resources, ""))
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit(f"compiling {name} failed")
    if resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(key)
    return out


def build():
    """Build both parts; return the classpath that runs the harness."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src):
        raise SystemExit(f"no program sources at {main_src}")
    os.makedirs(build_dir(), exist_ok=True)
    jars = spark_jars()
    res = os.path.join(ROOT, "src", "main", "resources")
    main = _compile("main", _files(main_src, ".scala"), jars,
                    res if os.path.isdir(res) else None)
    bench = _compile("bench", _files(bench_src, ".scala"),
                     os.pathsep.join([main, jars]))
    return os.pathsep.join([bench, main, jars])


if __name__ == "__main__":
    print(build())
