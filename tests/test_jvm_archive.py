"""The driver JVM's class-data archive (``ffiec_pq_spark.session``): the
stat-only cache key, the plain-launch fallbacks, publish-on-clean-exit,
and a fresh process that starts from a refused archive or whose dumping
JVM is killed.  The real-JVM cases run in subprocesses against a
temporary cache dir, so the checkout's own archive is never touched."""

import json
import os
import subprocess
import sys

import pytest

from ffiec_pq_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree(root, jdk="jdk"):
    """A fake JDK and SPARK_HOME: (java, spark_home, conf_dir)."""
    java = root / jdk / "bin" / "java"
    java.parent.mkdir(parents=True, exist_ok=True)
    java.write_bytes(b"java")
    (root / jdk / "release").write_text('JAVA_VERSION="17"\n')
    jars = root / "spark" / "jars"
    jars.mkdir(parents=True, exist_ok=True)
    (jars / "spark-core.jar").write_bytes(b"x" * 10)
    conf = root / "spark" / "conf"
    conf.mkdir(exist_ok=True)
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    return str(java), str(root / "spark"), str(conf)


def test_key_tracks_jars_and_jdk(tmp_path):
    java, home, conf = _tree(tmp_path)
    key = session.archive_key(java, home, conf)
    assert key == session.archive_key(java, home, conf)
    jar = os.path.join(home, "jars", "spark-core.jar")
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = session.archive_key(java, home, conf)
    assert touched != key
    with open(jar, "ab") as f:
        f.write(b"y")
    grown = session.archive_key(java, home, conf)
    assert grown not in (key, touched)
    java2, _, _ = _tree(tmp_path, jdk="jdk2")
    assert session.archive_key(java2, home, conf) != grown


class _Builder:
    """Records what ``_launch`` hands the session builder."""

    def __init__(self):
        self.confs = {}

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir_at_launch = os.environ.get("SPARK_CONF_DIR")
        return "session"


@pytest.fixture
def launcher(tmp_path, monkeypatch):
    """``_launch`` as if no JVM were running, with a fake SPARK_HOME
    and a temporary cache dir."""
    from pyspark import SparkContext

    java, home, conf = _tree(tmp_path)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_HOME", home)
    monkeypatch.setenv("JAVA_HOME", os.path.dirname(os.path.dirname(java)))
    for var in session._PLAIN_LAUNCH_ENV + ("SPARK_CONF_DIR",):
        monkeypatch.delenv(var, raising=False)
    return conf


def test_templates_only_conf_launches_from_archive(launcher):
    b = _Builder()
    assert session._launch(b) == "session"
    opts = b.confs["spark.driver.extraJavaOptions"]
    assert opts.startswith("-XX:ArchiveClassesAtExit=") and "-Xlog:disable" in opts
    assert b.conf_dir_at_launch == os.path.join(session.ARCHIVE_DIR, "conf")
    assert os.listdir(b.conf_dir_at_launch) == []
    assert "SPARK_CONF_DIR" not in os.environ  # restored after the launch
    with open(session.archive_file(), "wb") as f:
        f.write(b"archive")
    b = _Builder()
    session._launch(b)
    assert b.confs["spark.driver.extraJavaOptions"].startswith(
        f"-XX:SharedArchiveFile={session.archive_file()} "
    )


def test_live_conf_file_launches_plain(launcher, monkeypatch):
    with open(os.path.join(launcher, "spark-defaults.conf"), "w") as f:
        f.write("spark.driver.extraJavaOptions -Dx=1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", launcher)
    b = _Builder()
    session._launch(b)
    assert b.confs == {}
    assert b.conf_dir_at_launch == launcher
    assert os.environ["SPARK_CONF_DIR"] == launcher


def test_uncreatable_cache_launches_plain(launcher, tmp_path, monkeypatch):
    (tmp_path / "file").write_text("")
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(tmp_path / "file" / "cache"))
    b = _Builder()
    session._launch(b)
    assert b.confs == {} and b.conf_dir_at_launch is None


def _stand_in_jvm(code):
    """A child that, like the gateway JVM, exits when stdin closes."""
    return subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); {code}"],
        stdin=subprocess.PIPE,
    )


@pytest.mark.parametrize(
    "code, published",
    [("sys.exit(0)", True), ("sys.exit(1)", False),
     ("import time; time.sleep(60)", False)],
    ids=["clean_exit", "failed_exit", "timed_out"],
)
def test_publish_only_on_clean_exit(tmp_path, code, published):
    final = tmp_path / "k1.jsa"
    part = tmp_path / f"k1.{os.getpid()}.part"
    part.write_bytes(b"archive")
    other = tmp_path / "k0.jsa"
    other.write_bytes(b"old key")
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    orphan = tmp_path / f"k0.{dead.pid}.part"
    orphan.write_bytes(b"orphan")
    live = tmp_path / f"k2.{os.getpid()}.part"
    live.write_bytes(b"in progress")
    # the timed-out child ignores its stdin EOF and sleeps: the hook
    # kills it after wait_s
    session._publish_at_exit(_stand_in_jvm(code), str(part), wait_s=1.0)
    assert not part.exists()
    assert final.exists() == published
    # publishing prunes the other key and the orphan, never a live writer
    assert other.exists() != published and orphan.exists() != published
    assert live.exists()


def _fresh_process(script, cache, timeout=300):
    prog = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from ffiec_pq_spark import session\n"
        f"session.ARCHIVE_DIR = {str(cache)!r}\n"
        "spark = session.get_spark('jvm_archive_test', cpus=2)\n"
        "print(spark.range(1000).selectExpr('sum(id)').collect()[0][0])\n"
        + script
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    return subprocess.run(
        [sys.executable, "-c", prog], cwd=REPO, env=env, capture_output=True,
        text=True, timeout=timeout,
    )


def test_refused_archive_still_starts(tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    path = session.archive_file()
    if path is None:
        pytest.skip("this environment launches the driver JVM plainly")
    with open(path, "wb") as f:
        f.write(b"not a class-data archive" * 64)
    # the JVM was offered the archive (it refuses it silently at the
    # default log level)
    out = _fresh_process(
        "args = spark._jvm.java.lang.management.ManagementFactory"
        ".getRuntimeMXBean().getInputArguments()\n"
        f"print('offered', '-XX:SharedArchiveFile={path}' in args, file=sys.stderr)\n",
        cache,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "offered True" in out.stderr
    assert out.stdout.splitlines() == ["499500"]
    assert "[cds]" not in out.stdout and "[warning]" not in out.stdout
    with open(path, "rb") as f:  # a using run never republishes
        assert f.read(3) == b"not"
    assert sorted(os.listdir(cache)) == ["conf", os.path.basename(path)]


def test_killed_dump_publishes_nothing(tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    if session.archive_file() is None:
        pytest.skip("this environment launches the driver JVM plainly")
    # SIGTERM: the JVM still writes its part file on the way out, but
    # exits 143, so the exit hook must discard it
    out = _fresh_process(
        "import json, os, signal\n"
        "from pyspark import SparkContext\n"
        "proc = SparkContext._gateway.proc\n"
        "os.kill(proc.pid, signal.SIGTERM)\n"
        "proc.wait()\n"
        "print(json.dumps([proc.returncode, sorted(os.listdir(session.ARCHIVE_DIR))]))\n",
        cache,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rc, listing = json.loads(out.stdout.splitlines()[-1])
    assert rc != 0 and any(n.endswith(".part") for n in listing)
    assert sorted(os.listdir(cache)) == ["conf"]
