"""Build the program and the benchmark harness from source, outside sbt.

Everything lands in the build directory (`$CARGO_TARGET_DIR`, else
`.bench_build` at the repository root), keyed by a content hash of the
sources it came from, so a checkout compiles once and reuses the result:

- `classes-<src hash>/`: `src/main/scala`, compiled with the Scala compiler
  that ships in Spark's `jars` directory;
- `harness-<bench hash>/`: `perfbench/scala`, compiled against the above;
- `data-<src hash>/sf0.1/`: the tables, written by `graft.tools.DataGen`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "scala"
SF = "0.1"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def content_hash(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(base)).encode() + b"\0")
        h.update(p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def bench_sources_hash():
    """Content hash of the benchmark's own files (harness version)."""
    files = sorted(p for p in BENCH_DIR.rglob("*")
                   if p.is_file() and "__pycache__" not in p.parts)
    return content_hash(files, BENCH_DIR)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half of MemTotal in GiB, 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_opts():
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file outside the checkout
    return opts + [f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
                   "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]


def _scalac(jars, classpath, out, files, log):
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar")))
                for n in ("compiler", "library", "reflect")]
    staging = Path(f"{out}.tmp{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = staging.parent / f"{staging.name}.args"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = [java_bin(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", str(staging), f"@{argfile}"]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    argfile.unlink()
    if rc != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac failed (log: {log})")
    staging.rename(out)


def ensure_built():
    """Compile what is missing and generate the data; returns
    (classpath list, sf dir, source hash)."""
    if not SRC.is_dir() or not any(SRC.rglob("*.scala")):
        raise BuildError(f"no program sources under {SRC.relative_to(ROOT)}")
    jars = spark_jars()
    bd = build_dir()
    bd.mkdir(parents=True, exist_ok=True)
    all_jars = sorted(str(p) for p in jars.glob("*.jar"))

    src_files = sources(SRC)
    src_hash = content_hash(src_files, ROOT)
    classes = bd / f"classes-{src_hash}"
    if not classes.is_dir():
        print(f"[perfbench] compiling {len(src_files)} program sources", file=sys.stderr)
        _scalac(jars, all_jars, classes, src_files, bd / "scalac-program.log")

    harness_files = sources(HARNESS_SRC)
    h_hash = content_hash(harness_files, ROOT) + "-" + src_hash[:8]
    harness = bd / f"harness-{h_hash}"
    if not harness.is_dir():
        print("[perfbench] compiling the harness", file=sys.stderr)
        _scalac(jars, [str(classes)] + all_jars, harness, harness_files,
                bd / "scalac-harness.log")

    cp = [str(harness), str(classes), str(jars / "*")]
    data = bd / f"data-{src_hash}"
    sf_dir = data / f"sf{SF}"
    if not (data / "_DONE").exists():
        print(f"[perfbench] generating sf{SF} tables", file=sys.stderr)
        shutil.rmtree(data, ignore_errors=True)
        tmp = bd / "datagen-tmp"
        tmp.mkdir(exist_ok=True)
        cmd = [java_bin(), *jvm_opts(), f"-Djava.io.tmpdir={tmp}",
               "-cp", os.pathsep.join(cp), "graft.tools.DataGen", str(sf_dir), SF]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
        with open(bd / "datagen.log", "w") as lf:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                cwd=str(tmp)).returncode
        shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0:
            raise BuildError(f"DataGen failed (log: {bd / 'datagen.log'})")
        (data / "_DONE").write_text("ok\n")
    return cp, sf_dir, src_hash
