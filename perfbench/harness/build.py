"""Build file of the benchmark's Scala harness, and of the program it drives.

Compiles the program's sources (src/main/scala, plus src/main/resources on
the classpath) and then this package's sources against them, with the Scala
compiler that ships among the Spark jars the program's own build compiles
against. Output goes under the build directory only; a stamp of every
source file's path, size and mtime skips the compile when nothing changed.

    python3 perfbench/harness/build.py    # prints the runtime classpath
"""

import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def jar_dir(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the build.sbt's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources(d, exts):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def scalac(jars, classpath, out, files, log):
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("build: Scala compiler jars not found in " + jars)
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", ":".join(classpath), "-d", out, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"build: scalac failed for {out} (log {log})")


def build(root="."):
    """Compile if needed; return the runtime classpath as a list."""
    root = os.path.abspath(root)
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit("build: no program sources at src/main/scala")
    jars = jar_dir(root)
    spark_cp = sorted(os.path.join(jars, j) for j in os.listdir(jars)
                      if j.endswith(".jar"))
    bdir = build_dir()
    prog_out = os.path.join(bdir, "classes", "program")
    harness_out = os.path.join(bdir, "classes", "harness")
    resources = os.path.join(root, "src", "main", "resources")
    prog_files = sources(main_src, (".scala",))
    harness_files = sources(os.path.join(HERE, "src"), (".scala",))
    key = stamp(prog_files + harness_files + sources(resources, ("",)))
    stamp_file = os.path.join(bdir, "classes.stamp")
    classpath = [harness_out, prog_out, resources] + spark_cp
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return classpath
    os.makedirs(bdir, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", prog_out, harness_out], check=True)
    scalac(jars, spark_cp, prog_out, prog_files,
           os.path.join(bdir, "scalac-program.log"))
    scalac(jars, [prog_out] + spark_cp, harness_out, harness_files,
           os.path.join(bdir, "scalac-harness.log"))
    with open(stamp_file, "w") as f:
        f.write(key)
    return classpath


if __name__ == "__main__":
    print(":".join(build()))
