"""Build graft and the harness once per checkout and launch the JVM.

The sbt project in perfbench/ compiles ../src/main/scala together with
the harness into .bench_build/sbt-target. The runtime classpath is cached
next to it, keyed by a hash of every source file, so later runs start the
JVM directly (no sbt start-up inside any measured window).
"""
import hashlib
import os
import subprocess
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent.parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build"
CP_FILE = OUT / "classpath.txt"
STAMP_FILE = OUT / "sources.sha256"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH_DIR / "src" / "main"]
    files = [BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for r in roots:
        if r.is_dir():
            files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def sources_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = OUT / "tmp-sbt"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(log):
    """Compile if any source changed since the cached build; returns the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BuildError(f"graft sources not found under {ROOT / 'src'}")
    if not os.environ.get("SPARK_HOME"):
        raise BuildError("SPARK_HOME is not set; the build takes Spark's jars from it")
    digest = sources_hash()
    if CP_FILE.is_file() and STAMP_FILE.is_file() \
            and STAMP_FILE.read_text() == digest:
        return CP_FILE.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    log("building graft + harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise BuildError("sbt build failed:\n" + "\n".join(lines[-40:]))
    CP_FILE.write_text(lines[-1])
    STAMP_FILE.write_text(digest)
    return lines[-1]


def heap_gb():
    """Driver heap from /proc/meminfo, as the repo's tier-1 command derives
    it: half of RAM in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return max(2, min(8, g))
    except OSError:
        pass
    return 2


def java_cmd(classpath, tmp_dir, *args):
    """Driver command line; scratch files stay under `tmp_dir`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={tmp_dir}", f"-Dspark.local.dir={tmp_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Driver", *args]
