"""Build the program and the benchmark's JVM side from source.

Compiles `src/main/scala` and then `perfbench/src` with the Scala compiler
that ships in Spark's jar directory, straight into `.bench_build/`, keyed by
a hash of the sources so each checkout builds once per source state.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Jars of the Spark installation: $SPARK_HOME, else the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars; set SPARK_HOME")
    return jars


def _sources(root):
    return sorted(p for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def digest(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _compile(srcs, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            raise SystemExit("compile failed:\n" + lf.read()[-4000:])
    os.replace(tmp, out)


def build(root, build_dir):
    """Return the classpath (list) to run the benchmark's JVM side."""
    main_src = os.path.join(root, "src", "main")
    bench_src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
    if not os.path.isdir(os.path.join(main_src, "scala")):
        raise SystemExit(f"no program sources at {main_src}/scala")
    jars = spark_jars()
    os.makedirs(build_dir, exist_ok=True)
    main_files = _sources(main_src)
    bench_files = _sources(bench_src)
    main_key = digest(main_files, root)
    bench_key = main_key + "-" + digest(bench_files, root)
    main_out = os.path.join(build_dir, f"classes-{main_key}")
    bench_out = os.path.join(build_dir, f"bench-{bench_key}")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(main_out):
            _compile([p for p in main_files if p.endswith((".scala", ".java"))], main_out,
                     ":".join(jars), os.path.join(build_dir, "compile-main.log"))
            res = os.path.join(main_src, "resources")
            if os.path.isdir(res):
                shutil.copytree(res, main_out, dirs_exist_ok=True)
        if not os.path.isdir(bench_out):
            _compile([p for p in bench_files if p.endswith(".scala")], bench_out,
                     ":".join([main_out] + jars), os.path.join(build_dir, "compile-bench.log"))
    return [bench_out, main_out] + jars
