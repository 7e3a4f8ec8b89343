"""The driver JVM's class-data archive (``session.class_data_archive``):
when a launch records it, publishes it, uses it or skips it.

The lifecycle tests start real driver processes with ``XDG_CACHE_HOME``
pointed at a temp dir, so they neither read nor change the user's cache.
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from pandas_etl_spark import session
from pandas_etl_spark.session import ClassDataArchive, class_data_archive

ROOT = Path(__file__).resolve().parents[1]

# A driver process: start the session, run one query and one Python job
# (its accumulator updates open a connection from the JVM), report what
# its JVM was launched with. ``hold`` then sleeps (to be killed); ``wait``
# then reads stdin to EOF.
CHILD = r"""
import json, sys, time
from pandas_etl_spark.session import get_spark
spark = get_spark("cds-test", extra_conf={"spark.driver.memory": "1g"})
jvm = spark._jvm
rows = spark.sql("SELECT id % 7 AS k, count(*) AS n, sum(id * id) AS s "
                 "FROM range(5000) GROUP BY 1 ORDER BY 1").collect()
print("REPORT " + json.dumps({
    "pid": jvm.java.lang.ProcessHandle.current().pid(),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                 .getInputArguments()),
    "conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "rows": [list(r) for r in rows],
    "squares": spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * x).sum(),
}), flush=True)
if sys.argv[1:] == ["hold"]:
    time.sleep(600)
elif sys.argv[1:] == ["wait"]:
    sys.stdin.read()
"""

EXPECTED_ROWS = [
    [k, len(ids), sum(i * i for i in ids)]
    for k in range(7)
    for ids in [range(k, 5000, 7)]
]

# what the JVM prints about CDS when its logging is left on
CDS_NOISE = re.compile(r"\[cds|\bcds\b|SharedArchive|ArchiveClasses|\.jsa\b", re.I)


def _env(cache: Path, **extra: str) -> dict[str, str]:
    return dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", **extra)


def _start(env: dict[str, str], mode: str = "", **kw) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, *([mode] if mode else [])],
        env=env, cwd=ROOT, stdout=subprocess.PIPE, text=True, **kw,
    )


def _report(line: str) -> dict:
    assert line.startswith("REPORT "), line
    return json.loads(line[len("REPORT "):])


def _read_report(proc: subprocess.Popen) -> dict:
    for line in proc.stdout:
        if line.startswith("REPORT "):
            return _report(line)
    raise AssertionError(f"driver exited with {proc.wait()} before reporting")


def _run(env: dict[str, str]) -> tuple[dict, str]:
    proc = _start(env, stderr=subprocess.PIPE)
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    reports = [_report(line) for line in out.splitlines() if line.startswith("REPORT ")]
    assert len(reports) == 1, out[-3000:]
    noise = [line for line in (out + err).splitlines()
             if not line.startswith("REPORT ") and CDS_NOISE.search(line)]
    return reports[0], "\n".join(noise)


def _running(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except FileNotFoundError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def _archive_flags(args: list[str]) -> list[str]:
    return [a for a in args if a.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClasses"))]


def _names(cds: Path) -> set[str]:
    return {p.name for p in cds.iterdir()}


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """Two driver processes on one empty cache: one records the archive,
    the next starts from it."""
    cache = tmp_path_factory.mktemp("cds-cache")
    cds = cache / "pandas_etl_spark" / "cds"
    env = _env(cache)
    out: dict = {"cds": cds}
    recorder = _start(env, "wait", stdin=subprocess.PIPE, stderr=subprocess.PIPE)
    out["recorder"] = _read_report(recorder)
    out["while_recording"] = _names(cds)
    rest, err = recorder.communicate(input="", timeout=300)
    assert recorder.returncode == 0, err[-3000:]
    out["recorder_pid"] = recorder.pid
    out["recorder_err"] = err
    out["recorder_noise"] = "\n".join(
        line for line in (rest + err).splitlines() if CDS_NOISE.search(line))
    out["after_record"] = _names(cds)
    out["user"], out["user_noise"] = _run(env)
    return out


@pytest.fixture(scope="module")
def killed(tmp_path_factory):
    """A driver process SIGKILLed after it started recording, then the
    next start on the same cache."""
    cache = tmp_path_factory.mktemp("cds-cache")
    cds = cache / "pandas_etl_spark" / "cds"
    env = _env(cache)
    proc = _start(env, "hold", stderr=subprocess.DEVNULL)
    out: dict = {"cds": cds, "killed": _read_report(proc), "killed_pid": proc.pid}
    proc.send_signal(signal.SIGKILL)
    proc.wait()
    # its JVM sees EOF on stdin, exits and writes the archive to its .tmp
    deadline = time.monotonic() + 180
    while _running(out["killed"]["pid"]) and time.monotonic() < deadline:
        time.sleep(0.5)
    proc.stdout.close()
    assert not _running(out["killed"]["pid"])
    out["after_kill"] = _names(cds)
    out["next"], out["next_noise"] = _run(env)
    out["after_next"] = _names(cds)
    return out


def test_archive_is_published_after_exit_and_used_by_the_next_start(published):
    cds = published["cds"]
    rec = _archive_flags(published["recorder"]["args"])
    assert len(rec) == 1 and rec[0].startswith("-XX:ArchiveClassesAtExit="), rec
    tmp = Path(rec[0].split("=", 1)[1])
    key = tmp.name.split(".")[0]
    assert tmp == cds / f"{key}.{published['recorder_pid']}.tmp"
    # nothing is published while the recording JVM runs
    assert f"{key}.jsa" not in published["while_recording"]
    assert published["after_record"] == {"empty-conf", f"{key}.jsa"}
    assert _archive_flags(published["user"]["args"]) == [
        f"-XX:SharedArchiveFile={cds / f'{key}.jsa'}"]
    assert published["recorder"]["conf_dir"] == published["user"]["conf_dir"] == str(
        cds / "empty-conf")
    assert published["recorder"]["rows"] == published["user"]["rows"] == EXPECTED_ROWS
    assert published["recorder"]["squares"] == published["user"]["squares"] == 285


@pytest.mark.slow  # about 60 s: two JVMs each write an archive at exit
def test_killed_recorder_publishes_nothing_and_its_tmp_is_removed(killed):
    tmp = Path(_archive_flags(killed["killed"]["args"])[0].split("=", 1)[1])
    assert tmp.name == f"{tmp.name.split('.')[0]}.{killed['killed_pid']}.tmp"
    # its JVM wrote the file, but no one published it
    assert killed["after_kill"] == {"empty-conf", tmp.name}
    # the next start ran normally, deleted the stale file and published
    # its own recording
    assert killed["next"]["rows"] == EXPECTED_ROWS
    assert killed["after_next"] == {"empty-conf", tmp.name.split(".")[0] + ".jsa"}
    assert killed["next_noise"] == ""


def test_no_jvm_outlives_the_recording_process(published):
    assert not _running(published["recorder"]["pid"])


def test_no_cds_lines_in_driver_output(published):
    assert published["recorder_noise"] == ""
    assert published["user_noise"] == ""


def test_recording_exit_prints_no_traceback(published):
    # the JVM exits before Python does, under pyspark's accumulator server
    assert "Traceback" not in published["recorder_err"], published["recorder_err"][-3000:]


def test_conf_dir_with_files_leaves_the_launch_untouched(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    report, noise = _run(_env(tmp_path / "cache", SPARK_CONF_DIR=str(conf)))
    assert report["conf_dir"] == str(conf)
    assert not any("cds" in a or "Archive" in a for a in report["args"]), report["args"]
    assert report["rows"] == EXPECTED_ROWS
    assert noise == ""
    assert not list((tmp_path / "cache").glob("**/*.jsa"))
    assert not list((tmp_path / "cache").glob("**/*.tmp"))


# -- the decision and the publishing step, without a JVM ---------------------


@pytest.fixture
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "xdg" / "pandas_etl_spark" / "cds"


def test_launch_plan_records_then_uses(cache):
    plan = class_data_archive()
    assert plan.action == "record"
    assert plan.tmp == cache / f"{plan.archive.stem}.{os.getpid()}.tmp"
    assert plan.conf_dir == str(cache / "empty-conf")
    assert plan.java_options.startswith(f"-XX:ArchiveClassesAtExit={plan.tmp} ")
    plan.archive.write_bytes(b"")
    os.utime(plan.archive, (0, 0))
    again = class_data_archive()
    assert again.action == "use" and again.archive == plan.archive
    assert again.java_options.startswith(f"-XX:SharedArchiveFile={plan.archive} ")
    # a launch from the archive marks it as in use
    assert time.time() - plan.archive.stat().st_mtime < 60


def test_archive_key_follows_the_compressed_oops_mode(cache):
    def archive(heap):
        return class_data_archive({"spark.driver.memory": heap}).archive

    assert archive("1g") == archive("8192m") == archive("31g")
    assert archive("32g") == archive("48g") != archive("1g")


def test_launch_skips_the_archive(cache, tmp_path, monkeypatch):
    assert class_data_archive(
        {"spark.driver.defaultJavaOptions": "-Xss4m"}).action == "skip"
    assert class_data_archive({"spark.driver.extraClassPath": "/x.jar"}).action == "skip"

    templates = tmp_path / "templates"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))
    assert class_data_archive().action == "record"
    (templates / "log4j2.properties").write_text("")
    assert class_data_archive().action == "skip"
    monkeypatch.delenv("SPARK_CONF_DIR")

    hadoop = tmp_path / "hadoop"
    hadoop.mkdir()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    assert class_data_archive().action == "record"
    (hadoop / "core-site.xml").write_text("<configuration/>")
    assert class_data_archive().action == "skip"

    # a conf dir that cannot be listed may hold files
    (hadoop / "core-site.xml").unlink()
    listdir = os.listdir

    def unreadable(path):
        if str(path) == str(hadoop):
            raise PermissionError(13, "Permission denied", str(path))
        return listdir(path)

    monkeypatch.setattr(os, "listdir", unreadable)
    assert class_data_archive().action == "skip"
    monkeypatch.delenv("HADOOP_CONF_DIR")
    monkeypatch.setenv("SPARK_CONF_DIR", str(hadoop))
    assert class_data_archive().action == "skip"
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert class_data_archive().action == "record"

    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(not_a_dir))
    assert class_data_archive().action == "skip"


def test_stale_tmp_files_are_removed(cache):
    cache.mkdir(parents=True)
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    stale = cache / f"k.{gone.pid}.tmp"
    live = cache / f"k.{os.getppid()}.tmp"
    stale.write_bytes(b"x")
    live.write_bytes(b"x")
    class_data_archive()
    assert not stale.exists() and live.exists()


def test_publish_only_after_a_clean_exit(tmp_path, monkeypatch):
    def publish(name, code):
        proc = subprocess.Popen([sys.executable, "-c", f"import sys; sys.stdin.read(); {code}"],
                                stdin=subprocess.PIPE)
        plan = ClassDataArchive("record", tmp_path / f"{name}.jsa", tmp=tmp_path / f"{name}.tmp")
        plan.tmp.write_bytes(b"archive")
        monkeypatch.setattr(session, "_recording", (proc, plan))
        assert not plan.archive.exists()
        session._publish_recording()  # closes stdin, waits for the exit
        assert proc.returncode is not None and session._recording is None
        assert not plan.tmp.exists()
        return plan

    unused, in_use = tmp_path / "unused.jsa", tmp_path / "in-use.jsa"
    unused.write_bytes(b"old")
    in_use.write_bytes(b"old")
    os.utime(unused, (0, 0))
    assert not publish("failed", "sys.exit(3)").archive.exists()
    assert unused.exists()
    assert publish("clean", "sys.exit(0)").archive.read_bytes() == b"archive"
    # publishing deletes only the archives no launch started from lately
    assert not unused.exists() and in_use.exists()
