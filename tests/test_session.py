"""``get_spark``: no per-call call-site capture, and the driver JVM's
class-data-sharing archive (``contessa_spark/class_archive.py``): its
key, its publish-after-exit rule, the dump's command, the conf-dir,
caller-options and spark-submit rules, the restored environment, two
fresh sessions of which the second maps Spark's classes from the
archive the first one dumped, and a session that deletes an archive
its JVM did not map."""

import glob
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import functions as F

from contessa_spark import class_archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dataframe_calls_capture_no_call_site(spark, monkeypatch):
    import pyspark.errors.utils as utils

    calls = []
    monkeypatch.setattr(utils, "_capture_call_site", lambda depth: calls.append(depth) or "")
    df = spark.range(10).select((F.col("id") + 1).alias("x")).groupBy().agg(F.sum("x").alias("s"))
    assert df.collect()[0]["s"] == 55
    assert calls == []


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty archive cache, the real Spark home's templates-only conf
    dir, and no environment that adds to the driver's classpath."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in ("SPARK_CONF_DIR",) + class_archive._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "xdg" / "contessa_spark"


class _Exited:
    """A stand-in for a JVM process that already exited with ``rc``."""

    stdin, pid = None, 0

    def __init__(self, rc):
        self.returncode = rc

    def poll(self):
        return self.returncode


def _write(path, data=b"x" * 64):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


def test_archive_key_covers_jars_jdk_and_heap(tmp_path):
    java = tmp_path / "jdk" / "bin" / "java"
    _write(java)
    _write(tmp_path / "jdk" / "release", b'JAVA_VERSION="17.0.20"\n')
    jar = tmp_path / "spark" / "jars" / "a.jar"
    _write(jar)
    _write(tmp_path / "spark" / "jars" / "b.jar")

    def key(heap="8g"):
        return class_archive.archive_key(str(java), str(tmp_path / "spark"), heap)

    k0 = key()
    assert key() == k0
    assert key("4g") != k0
    _write(tmp_path / "jdk" / "release", b'JAVA_VERSION="17.0.21"\n')
    k1 = key()
    assert k1 != k0
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    k2 = key()
    assert k2 != k1
    _write(jar, b"x" * 65)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert key() != k2


def _dump(rc):
    """A stand-in dump command: writes the temp archive, exits ``rc``."""
    return lambda launch: [sys.executable, "-c",
                           f"open({launch.temp!r}, 'wb').write(b'x' * 64); raise SystemExit({rc})"]


def test_only_a_dump_after_a_jvm_that_exited_0_publishes(cache):
    plan = class_archive.plan({"spark.driver.memory": "1g"})
    assert plan.class_list and plan.java_options.startswith(f"-XX:DumpLoadedClassList={plan.class_list} ")
    assert os.path.dirname(plan.class_list) == os.path.dirname(plan.temp) == str(cache)

    # a run in progress (this process) keeps its list, and its archive
    # is never mapped; files of a process that is gone are removed
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    stale = [p.replace(f".{os.getpid()}.", f".{dead.pid}.") for p in (plan.class_list, plan.temp)]
    for path in [plan.class_list, *stale]:
        _write(cache / os.path.basename(path))
    again = class_archive.plan({"spark.driver.memory": "1g"})
    assert again.class_list != plan.class_list and again.archive == plan.archive
    assert "SharedArchiveFile" not in again.java_options
    assert os.path.exists(plan.class_list) and not any(os.path.exists(p) for p in stale)

    # the JVM failed: no dump; the dump failed: nothing published
    for jvm_rc, dump_rc in ((1, 0), (-9, 0), (0, 1)):
        _write(cache / os.path.basename(plan.class_list))
        assert not class_archive.publish(_Exited(jvm_rc), _dump(dump_rc)(plan), plan)
        assert not os.path.exists(plan.class_list) and not os.path.exists(plan.temp)
        assert not os.path.exists(plan.archive)
    assert class_archive.plan({"spark.driver.memory": "1g"}).class_list

    _write(cache / os.path.basename(plan.class_list))
    assert class_archive.publish(_Exited(0), _dump(0)(plan), plan)
    assert not os.path.exists(plan.class_list) and not os.path.exists(plan.temp)
    mapped = class_archive.plan({"spark.driver.memory": "1g"})
    assert mapped.class_list is None and mapped.temp is None
    assert mapped.java_options.startswith(f"-XX:SharedArchiveFile={plan.archive} ")
    flags = mapped.java_options.split()
    assert "-Xlog:cds*=off" in flags and f"-XX:ErrorFile={cache}/hs_err_pid%p.log" in flags


def test_publish_waits_for_a_running_jvm(cache):
    """A recording JVM still running at exit is told to exit by closing
    its stdin, then waited for; its exit code decides."""
    for rc, published in ((0, True), (3, False)):
        plan = class_archive.plan({"spark.driver.memory": f"{rc + 1}g"})
        _write(cache / os.path.basename(plan.class_list))
        proc = subprocess.Popen(
            [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({rc})"], stdin=subprocess.PIPE
        )
        assert class_archive.publish(proc, _dump(0)(plan), plan, timeout=30) is published
        assert proc.returncode == rc
        assert os.path.exists(plan.archive) is published
        assert not os.path.exists(plan.class_list) and not os.path.exists(plan.temp)


_ARGV = ["/jdk/bin/java", "-cp", "/conf/:/jars/*", "-Xmx8g", "-Dspark.x=1", "-XX:DumpLoadedClassList=/c/k.lst",
         "-Xlog:cds*=off", "-Xlog:class+load=info:file=/somewhere.log",
         "--add-opens=java.base/java.lang=ALL-UNNAMED", "-XX:ErrorFile=/c/hs_err_pid%p.log"]


def test_dump_runs_with_the_recording_jvms_command_line(cache):
    plan = class_archive.plan({})
    assert class_archive.dump_command(plan, _ARGV) == [
        "/jdk/bin/java", "-Xshare:dump", f"-XX:SharedClassListFile={plan.class_list}",
        f"-XX:SharedArchiveFile={plan.temp}", "-cp", "/conf/:/jars/*", "-Xmx8g",
        "--add-opens=java.base/java.lang=ALL-UNNAMED", "-XX:ErrorFile=/c/hs_err_pid%p.log",
    ]
    # the driver JVM's own command line, read while it runs, ends
    # before Spark's main class
    proc = subprocess.Popen(["sleep", "30", class_archive._MAIN, "--conf", "x"])
    try:
        assert class_archive._command_line(proc.pid) == ["sleep", "30"]
    finally:
        proc.kill()
        proc.wait()
    assert class_archive._command_line(proc.pid) is None


def test_conf_dir_with_real_files_gets_no_archive(cache, tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    _write(conf / "spark-defaults.conf.template")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert class_archive.plan({}) is not None
    _write(conf / "spark-defaults.conf", b"spark.master local[1]\n")
    assert class_archive.plan({}) is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.setenv("HADOOP_CONF_DIR", str(conf))
    assert class_archive.plan({}) is None


def test_callers_java_options_and_classpath_win(cache):
    assert class_archive.plan({"spark.driver.defaultJavaOptions": "-Dcaller=1"}) is None
    assert class_archive.plan({"spark.driver.extraClassPath": "/somewhere"}) is None
    assert class_archive.plan({"spark.driver.extraJavaOptions": "-Dcaller=1"}) is not None


class _Launch:
    """Records each ``getOrCreate`` launch: its options and the
    ``SPARK_CONF_DIR`` it saw; fails the first ``fail`` launches the way
    a JVM that does not start fails. The gateway it leaves has ``proc``
    as its JVM process (None: a JVM Python did not launch)."""

    def __init__(self, fail=0, proc=_Exited(0)):
        self.launches, self.fail, self.proc = [], fail, proc
        self.session = object()

    def builder(self, options):
        launch = self

        class Builder:
            def getOrCreate(self):
                launch.launches.append((dict(options), os.environ.get("SPARK_CONF_DIR")))
                if len(launch.launches) <= launch.fail:
                    raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
                SparkContext._gateway = type("Gateway", (), {"proc": launch.proc})()
                return launch.session

        return Builder()


@pytest.mark.parametrize("conf_dir", [None, "templates"])
def test_launch_points_conf_dir_at_empty_dir_and_restores_environ(cache, tmp_path, monkeypatch, conf_dir):
    if conf_dir:
        _write(tmp_path / "conf" / "log4j2.properties.template")
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    before = dict(os.environ)
    hooks, fake = [], _Launch()
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(class_archive, "_builder", fake.builder)
    monkeypatch.setattr(class_archive.atexit, "register", lambda *a: hooks.append(a))
    monkeypatch.setattr(class_archive, "_command_line", lambda pid: _ARGV)

    assert class_archive.get_or_create({"spark.app.name": "t"}) is fake.session
    [(options, seen)] = fake.launches
    assert seen == str(cache / "empty-conf") and not os.listdir(seen)
    assert "-XX:DumpLoadedClassList=" in options["spark.driver.defaultJavaOptions"]
    assert dict(os.environ) == before
    [(publish, proc, command, launch)] = hooks
    assert publish is class_archive.publish and proc is SparkContext._gateway.proc
    assert command == class_archive.dump_command(launch, _ARGV)
    assert launch.class_list in options["spark.driver.defaultJavaOptions"]

    # a running gateway means no launch: no flags, environment untouched
    again = _Launch()
    monkeypatch.setattr(class_archive, "_builder", again.builder)
    class_archive.get_or_create({"spark.app.name": "t"})
    assert again.launches == [({"spark.app.name": "t"}, os.environ.get("SPARK_CONF_DIR"))]
    assert len(hooks) == 1


def test_jvm_that_python_did_not_launch_is_left_alone(cache, monkeypatch):
    """Under spark-submit the driver JVM runs before Python starts
    (``PYSPARK_GATEWAY_PORT``): no flags, no conf dir, no exit hook; and
    no exit hook for a gateway with no JVM process of this one's."""
    hooks = []
    monkeypatch.setattr(class_archive.atexit, "register", lambda *a: hooks.append(a))
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "45678")
    before = dict(os.environ)
    fake = _Launch(proc=None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(class_archive, "_builder", fake.builder)
    class_archive.get_or_create({"spark.app.name": "t"})
    assert fake.launches == [({"spark.app.name": "t"}, before.get("SPARK_CONF_DIR"))]
    assert dict(os.environ) == before

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    other = _Launch(proc=None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(class_archive, "_builder", other.builder)
    class_archive.get_or_create({"spark.app.name": "t"})
    assert "-XX:DumpLoadedClassList=" in other.launches[0][0]["spark.driver.defaultJavaOptions"]
    assert hooks == []


def test_launch_that_fails_with_the_archive_retries_without_it(cache, monkeypatch):
    _write(cache / "empty-conf" / "x")  # not empty: no archive
    assert class_archive.plan({}) is None
    (cache / "empty-conf" / "x").unlink()
    archive = class_archive.plan({}).archive
    _write(cache / os.path.basename(archive))
    before = dict(os.environ)
    fake = _Launch(fail=1)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(class_archive, "_builder", fake.builder)

    assert class_archive.get_or_create({}) is fake.session
    (first, _), (second, seen) = fake.launches
    flags = first["spark.driver.defaultJavaOptions"].split()
    assert flags[0] == f"-XX:SharedArchiveFile={archive}"
    # a JVM that dies on the archive writes its report into the cache,
    # not the caller's working directory
    assert f"-XX:ErrorFile={cache}/hs_err_pid%p.log" in flags
    assert second == {} and seen == before.get("SPARK_CONF_DIR")
    assert dict(os.environ) == before
    assert not os.path.exists(archive)  # the archive the JVM refused is gone


_SESSION = """
    import sys
    sys.path.insert(0, {repo!r})
    from contessa_spark.session import get_spark

    spark = get_spark("class_archive_test", master="local[1]", shuffle_partitions=1, extra_conf={{
        "spark.driver.extraJavaOptions": "-Xlog:class+load=info:file={log}",
    }})
    print(spark.range(10).selectExpr("sum(id) AS s").collect()[0]["s"])
"""


def test_second_fresh_session_maps_spark_classes_from_the_archive(tmp_path):
    """Two fresh interpreters on one empty cache: the first records its
    classes and dumps them when it exits (it does not stop the
    session), the second loads Spark's classes from that archive and
    keeps it. The JVM prints nothing to stdout in either."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_GRAFT_DRIVER_MEM="1g")
    cache = tmp_path / "xdg" / "contessa_spark"
    spark_top = []
    for run in (1, 2):
        log = tmp_path / f"class-load-{run}.log"
        code = textwrap.dedent(_SESSION.format(repo=REPO, log=log))
        out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=300)
        assert out.returncode == 0, out.stderr
        assert out.stdout == "45\n"
        assert [p.suffix for p in cache.iterdir() if p.is_file()] == [".jsa"]
        spark_top.append(sum(
            1 for line in log.read_text().splitlines()
            if " org.apache.spark." in line and "source: shared objects file" in line
        ))
    assert spark_top[0] == 0
    assert spark_top[1] > 1000


@pytest.mark.parametrize("fault", ["wrongkey", "truncarchive"])
def test_archive_the_jvm_did_not_map_is_deleted(cache, tmp_path, fault):
    """The key's archive is a valid static archive of another classpath
    that holds that classpath's classes (``wrongkey``), or its first
    1 MB (``truncarchive``). The JVM runs without it, reads
    ``UseSharedSpaces`` false, and the session deletes the file, so the
    next one records a new archive."""
    from pyspark.find_spark_home import _find_spark_home

    [scala] = glob.glob(os.path.join(_find_spark_home(), "jars", "scala-library-*.jar"))
    classes, other = tmp_path / "other.lst", tmp_path / "other.jsa"
    classes.write_text("java/lang/Object id: 0\nscala/Function0\n")
    subprocess.run([class_archive.java_binary(), "-Xshare:dump", f"-XX:SharedClassListFile={classes}",
                    f"-XX:SharedArchiveFile={other}", "-cp", scala], capture_output=True, check=True, timeout=120)
    data = other.read_bytes()
    archive = class_archive.plan({"spark.driver.memory": "1g"}).archive
    _write(cache / os.path.basename(archive), data if fault == "wrongkey" else data[: 1 << 20])

    log = tmp_path / "class-load.log"
    code = textwrap.dedent(_SESSION.format(repo=REPO, log=log))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    assert out.stdout == "45\n"
    assert not os.path.exists(archive)
    assert "source: shared objects file" not in log.read_text()
    assert class_archive.plan({"spark.driver.memory": "1g"}).class_list
