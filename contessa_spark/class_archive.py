"""A class-data-sharing (CDS) archive for the driver JVM.

Most of a local session's start-up is the driver JVM loading, parsing
and verifying Spark's classes from its jars. A CDS archive holds those
classes already parsed; a JVM started with ``-XX:SharedArchiveFile``
maps them instead (~2.8 → ~1.5 s per ``get_spark`` on a 4-core host).
:func:`get_or_create` launches the driver JVM with one:

* The archive lives under ``$XDG_CACHE_HOME/contessa_spark/`` (default
  ``~/.cache``), one file per :func:`archive_key`: the ``java`` Spark
  launches and its JDK release, every jar of ``$SPARK_HOME/jars`` by
  name, size and mtime, and the heap size. On any other mismatch the
  JVM checks the archive itself and runs without it.
* The first session on a key has no archive. Its JVM only writes the
  names of the classes it loads to a list (``-XX:DumpLoadedClassList``,
  which costs that session almost nothing, unlike recording a dynamic
  archive, which made it ~1 s slower to start). At interpreter exit,
  once that JVM has exited with code 0, a separate ``java -Xshare:dump``
  with that JVM's command line (read from ``/proc``, so only on Linux)
  builds the archive from the list (~16 s, 150-200 MB) into a temp file
  named after this process;
  the file is renamed into place only if that dump exited with code 0.
  A truncated archive crashes the JVM that maps it, so nothing else may
  publish one. Temp files whose process is gone are removed.
* A JVM refuses to dump with a non-empty directory on its classpath,
  and Spark puts its conf directory there. So the archive is used only
  when that directory (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``)
  holds nothing but ``*.template`` files, which Spark ignores; the
  launch then points ``SPARK_CONF_DIR`` at an empty directory in the
  cache, which configures the same, and restores ``os.environ``. With
  real files there, or any other directory Spark may add to the
  classpath, the JVM is launched as before.
* The flags go in ``spark.driver.defaultJavaOptions``, so a caller's
  ``extraJavaOptions`` still applies; a caller that sets
  ``defaultJavaOptions`` gets no archive. The JVM writes its log to
  this process's stdout, so CDS logging is off; a fatal error's report
  goes to the cache, not the working directory.
* A launch that passed an archive reads HotSpot's ``UseSharedSpaces``
  (``HotSpotDiagnosticMXBean``); when it is false the JVM rejected the
  archive (truncated, or of another classpath or JVM), and the file is
  deleted so the next session records a new one.
* Under ``spark-submit`` the driver JVM is already running when Python
  starts (``PYSPARK_GATEWAY_PORT`` is set), so nothing is changed.

:func:`get_or_create` also sets the other launch-time setting, the
local worker daemon (:func:`_library_daemon`).

Only the driver JVM is covered: in local mode that is the whole
engine; a cluster's executors start their own JVMs.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import site
import subprocess
import uuid
from dataclasses import dataclass
from typing import List, Optional

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
_DAEMON_MODULE = "spark.python.daemon.module"
#: the worker daemon that imports pyspark from its install
_DAEMON = "contessa_spark.worker_daemon"
#: every CDS tag set off, so neither recording nor a mismatched archive
#: logs
_QUIET = "-Xlog:cds*=off"
#: JVM arguments of the recording run that the dump does not take
_NOT_FOR_DUMP = ("-XX:DumpLoadedClassList=", "-Xlog", "-D")
#: the main class of the driver JVM that pyspark launches
_MAIN = "org.apache.spark.deploy.SparkSubmit"
#: environment variables and conf keys that put more entries on the
#: driver's classpath (Spark's launcher, ``AbstractCommandBuilder``)
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES",
                  "HADOOP_CONF_DIR", "YARN_CONF_DIR")
_CLASSPATH_CONF = "spark.driver.extraClassPath"
#: how long interpreter exit waits for the driver JVM to exit, and then
#: for the dump (~16 s)
_DUMP_WAIT_S = 120


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "contessa_spark")


def java_binary() -> Optional[str]:
    """The ``java`` that ``spark-class`` runs: ``$JAVA_HOME/bin/java``,
    else the first on ``PATH``; resolved through links."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}"


def archive_key(java: str, spark_home: str, heap: str) -> str:
    """Hash of what makes a JVM reject an archive: the java binary, its
    JDK's ``release`` file and ``libjvm.so``, the jars and the heap."""
    h = hashlib.sha256()
    jdk = os.path.dirname(os.path.dirname(java))
    h.update(f"{java}\n{_stamp(java)}\nheap={heap}\n".encode())
    with contextlib.suppress(OSError), open(os.path.join(jdk, "release"), "rb") as f:
        h.update(f.read())
    with contextlib.suppress(OSError):
        h.update(_stamp(os.path.join(jdk, "lib", "server", "libjvm.so")).encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"\n{_stamp(os.path.join(jars, name))}".encode())
    return h.hexdigest()[:24]


def _only_templates(conf_dir: str) -> bool:
    if not os.path.isdir(conf_dir):
        return True
    return all(name.endswith(".template") for name in os.listdir(conf_dir))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _remove_stale_temps(cache: str) -> None:
    """Class lists and temp archives are ``<key>.<pid>.<token>.lst`` and
    ``.tmp``; remove those whose process is gone (a run or a dump cut
    short)."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) == 4 and parts[3] in ("lst", "tmp") and parts[1].isdigit():
            if not _pid_alive(int(parts[1])):
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(cache, name))


@dataclass
class Plan:
    """How to launch one driver JVM: its ``java_options``, the empty
    ``conf_dir`` to launch it with, the ``archive`` it maps or will
    publish, and, when there is no archive yet, the ``class_list`` it
    records and the ``temp`` file the dump writes."""

    java_options: str
    conf_dir: str
    archive: str
    class_list: Optional[str]
    temp: Optional[str]


def plan(options: dict) -> Optional[Plan]:
    """The archive plan for a driver JVM launched with ``options``, or
    None when the JVM should be launched as it always was."""
    from pyspark.find_spark_home import _find_spark_home

    if not os.path.exists("/proc/self/cmdline") or _JAVA_OPTIONS in options or _CLASSPATH_CONF in options:
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    java = java_binary()
    spark_home = _find_spark_home()
    if not java or not os.path.isdir(os.path.join(spark_home, "jars")):
        return None
    if not _only_templates(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    cache = cache_dir()
    conf_dir = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        _remove_stale_temps(cache)
        key = archive_key(java, spark_home, str(options.get("spark.driver.memory", "")))
    except OSError:
        return None
    quiet = f"{_QUIET} -XX:ErrorFile={os.path.join(cache, 'hs_err_pid%p.log')}"
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return Plan(f"-XX:SharedArchiveFile={archive} {quiet}", conf_dir, archive, None, None)
    stem = os.path.join(cache, f"{key}.{os.getpid()}.{uuid.uuid4().hex[:8]}")
    return Plan(f"-XX:DumpLoadedClassList={stem}.lst {quiet}", conf_dir, archive, f"{stem}.lst", f"{stem}.tmp")


@contextlib.contextmanager
def _spark_conf_dir(path: str):
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _command_line(pid: int) -> Optional[List[str]]:
    """The ``java`` command line of the driver JVM ``pid`` up to its main
    class, or None. ``spark-submit`` and ``spark-class`` exec, so the
    process pyspark started is that JVM."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = os.fsdecode(f.read()).split("\0")
        return argv[:argv.index(_MAIN)]
    except (OSError, ValueError):
        return None


def dump_command(launch: Plan, jvm_argv: List[str]) -> List[str]:
    """``java -Xshare:dump`` of ``launch``'s class list into its temp
    file, with the recording JVM's ``java``, classpath and arguments
    (heap, module options): a JVM mapping the archive must match them."""
    args = [a for a in jvm_argv[1:] if not a.startswith(_NOT_FOR_DUMP)]
    return [jvm_argv[0], "-Xshare:dump", f"-XX:SharedClassListFile={launch.class_list}",
            f"-XX:SharedArchiveFile={launch.temp}", *args]


def publish(proc: subprocess.Popen, command: List[str], launch: Plan, timeout: float = _DUMP_WAIT_S) -> bool:
    """Once the JVM ``proc`` that recorded ``launch.class_list`` has
    exited with code 0, run the dump ``command`` and publish its temp
    file as ``launch.archive`` if the dump exited with code 0. A JVM
    still running is told to exit (the SparkContext on it is stopped,
    and its gateway server exits when stdin closes) and waited for. The
    class list and the temp file are removed either way. True if
    published."""
    if proc.poll() is None:
        gateway, sc = SparkContext._gateway, SparkContext._active_spark_context
        if sc is not None and getattr(gateway, "proc", None) is proc:
            # at interpreter exit: a failed stop must not keep the dump
            # from being made
            with contextlib.suppress(Exception):
                sc.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return False  # still running; a later session removes the list
    try:
        if proc.returncode == 0 and os.path.getsize(launch.class_list) > 0:
            dump = subprocess.run(command, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                                  stderr=subprocess.DEVNULL, timeout=timeout)
            if dump.returncode == 0 and os.path.getsize(launch.temp) > 0:
                os.replace(launch.temp, launch.archive)
                return True
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        for path in (launch.class_list, launch.temp):
            with contextlib.suppress(OSError):
                os.remove(path)
    return False


def _builder(options: dict) -> SparkSession.Builder:
    return SparkSession.builder.config(map=options)


def _library_daemon(options: dict) -> bool:
    """Whether a driver JVM launched with ``options`` runs
    ``contessa_spark.worker_daemon``, which imports pyspark from its
    install (``contessa_spark/__init__.py``): not when the caller chose a
    daemon or the master is not local, nor when ``python -m`` in this
    working directory, where the local executor starts the daemon, would
    not import this package. The first of that directory, the
    executor's and this process's ``PYTHONPATH`` and this interpreter's
    site-packages that holds a ``contessa_spark`` package must be this
    package's parent."""
    master = options.get("spark.master", "")
    if _DAEMON_MODULE in options or not (master == "local" or master.startswith("local[")):
        return False
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    path = [os.getcwd(), *options.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep),
            *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    for entry in filter(None, path):
        if os.path.isfile(os.path.join(entry, "contessa_spark", "__init__.py")):
            return os.path.realpath(entry) == root
    return False


def _maps_archive(jvm) -> bool:
    """Whether the JVM behind ``jvm`` (a py4j view) mapped its CDS
    archive: HotSpot's ``UseSharedSpaces``, false when it rejected it;
    true when the JVM cannot tell (no such bean or flag)."""
    try:
        bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
        return bean.getVMOption("UseSharedSpaces").getValue() != "false"
    except Py4JError:
        return True


def get_or_create(options: dict) -> SparkSession:
    """``SparkSession.builder.config(map=options).getOrCreate()``. When
    this call launches the driver JVM, it also decides the launch-time
    settings: the local worker daemon (:func:`_library_daemon`) and the
    CDS archive (:func:`plan`); an archive that JVM did not map is
    deleted, so the next session records a new one."""
    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return _builder(options).getOrCreate()
    if _library_daemon(options):
        options = {**options, _DAEMON_MODULE: _DAEMON}
    launch = plan(options)
    if launch is None:
        return _builder(options).getOrCreate()
    try:
        with _spark_conf_dir(launch.conf_dir):
            spark = _builder({**options, _JAVA_OPTIONS: launch.java_options}).getOrCreate()
    except PySparkRuntimeError:
        if SparkContext._gateway is not None:
            raise
        # the JVM did not start: launch it as before, and if that works
        # the archive was at fault
        spark = _builder(options).getOrCreate()
        with contextlib.suppress(OSError):
            os.remove(launch.class_list or launch.archive)
        return spark
    if launch.class_list is None:
        if not _maps_archive(spark.sparkContext._jvm):
            with contextlib.suppress(OSError):
                os.remove(launch.archive)
        return spark
    proc = getattr(SparkContext._gateway, "proc", None)
    jvm_argv = _command_line(proc.pid) if proc is not None else None
    if jvm_argv:
        atexit.register(publish, proc, dump_command(launch, jvm_argv), launch)
    return spark
