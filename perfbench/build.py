"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/scala) into one class directory with the
Scala compiler that ships in Spark's jars directory, and packs it as a
jar.

    python3 perfbench/build.py        # from the repository root

Output goes to $CARGO_TARGET_DIR (default .bench_build): classes/,
perfbench.jar and a stamp of the sources; an unchanged tree is not
rebuilt. A rebuild also drops the class-data archive of the last build
(see run.py), which was made from the old jar.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

SOURCES = ["src/main/scala", "perfbench/scala"]
SCALAC_OPTS = ["-nowarn", "-release", "17"]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = sorted(str(p) for p in Path(home, "jars").glob("*.jar"))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"perfbench: no scala-compiler jar under {home}/jars")
    return jars


def out_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    files = []
    for root in SOURCES:
        if not Path(root).is_dir():
            raise SystemExit(f"perfbench: source directory {root} missing; "
                             "run from the repository root")
        files += sorted(str(p) for p in Path(root).rglob("*.scala"))
    return files


def archive():
    """The JVM class-data archive made from this build's classpath."""
    return out_dir() / "classes.jsa"


def pack(classes, jar):
    """Jar of the class directory: the JVM archives classes from jars only."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def stamp(files):
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    files = sources()
    jars = spark_jars()
    out = out_dir()
    classes = out / "classes"
    jar = out / "perfbench.jar"
    want = stamp(files)
    stamp_file = out / "stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == want):
        stamp_file.unlink(missing_ok=True)
        archive().unlink(missing_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        # an explicit -classpath: the default (".") would turn the
        # repository's directories into packages
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars), *SCALAC_OPTS,
               "-d", str(classes), *files]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=800)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:])
            raise SystemExit("perfbench: compilation failed")
        pack(classes, jar)
        stamp_file.write_text(want)
    return os.pathsep.join([str(jar.resolve())] + jars)


if __name__ == "__main__":
    build()
    print(f"perfbench: classes in {out_dir() / 'perfbench.jar'}")
