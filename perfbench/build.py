"""Build file of the benchmark: compiles the project's main sources and
the harness with the Scala compiler that ships in Spark's jars, into
`.bench_build/` at the root of the checkout. A build is reused while
no source file changed.

    python3 perfbench/build.py          # build, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java") and p.is_file())


def _scalac(classpath, dest, sources, log):
    dest.mkdir(parents=True)
    argfile = dest.parent / (dest.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + str(OUT / "tmp"),
           "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(dest), "@" + str(argfile)]
    if classpath:
        cmd[-3:-3] = ["-cp", os.pathsep.join(str(c) for c in classpath)]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError("scalac failed; see %s" % log.name)


def _stamp(digest, sources):
    for src in sources:
        digest.update(str(src.relative_to(ROOT)).encode() + b"\0" + src.read_bytes())
    return digest.hexdigest()[:16]


def _ensure(name, stamp, classpath, sources):
    """Compile `sources` into .bench_build/<name>-<stamp> unless done."""
    dest = OUT / ("%s-%s" % (name, stamp))
    if (dest / "DONE").is_file():
        return dest
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    tmp = OUT / ("tmp-%s-%d" % (name, os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        with open(OUT / ("%s-build.log" % name), "w") as log:
            _scalac(classpath, tmp / "classes", sources, log)
        (tmp / "DONE").write_text("")
        for old in OUT.glob(name + "-*"):
            if old.is_dir():
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def classpath():
    """Compile what changed; return the run classpath as a list."""
    main = ROOT / "src" / "main" / "scala"
    harness = ROOT / "perfbench" / "harness"
    if not main.is_dir() or not harness.is_dir():
        raise BuildError("no project sources under %s" % ROOT)
    if not (SPARK_JARS / "scala-compiler-2.13.17.jar").is_file():
        raise BuildError("no Scala compiler in %s" % SPARK_JARS)
    # one digest for both stamps: the harness compiles against the main
    # classes, so it is rebuilt when either changes
    digest = hashlib.sha256()
    main_stamp = _stamp(digest, _sources(main))
    main_out = _ensure("main", main_stamp, [], _sources(main)) / "classes"
    harness_out = _ensure("harness", _stamp(digest, _sources(harness)), [main_out],
                          _sources(harness)) / "classes"
    return [main_out, harness_out, SPARK_JARS / "*"]


def tables_dir():
    """Where the query tables live: keyed on their generator alone, so
    they survive any other source change."""
    gen = ROOT / "perfbench" / "harness" / "Gen.scala"
    return OUT / ("tables-" + _stamp(hashlib.sha256(), [gen]))


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(c) for c in classpath()))
    except BuildError as e:
        sys.exit("build: %s" % e)
