"""The worker daemon (`lucene_solr_spark._daemon`): workers of a
`get_spark` session import nothing through Spark's zip and jar
importers, the strip falls back to the stock layout whenever it cannot
prove the same pyspark/py4j resolve without them, and a stopped session
leaves no daemon or worker process behind."""

import glob
import json
import os
import subprocess
import sys
import time
import zipfile

import pandas as pd
import pytest

from lucene_solr_spark._daemon import _ZIPS, _same_version, strip_spark_archives

MODULE = "lucene_solr_spark._daemon"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_spark_archive(entry: str) -> bool:
    """`entry` is, or lies inside, pyspark.zip, a py4j zip or a jar."""
    for base in entry.split(os.sep):
        if base == "pyspark.zip" or base.endswith(".jar") or (
                base.startswith("py4j-") and base.endswith(".zip")):
            return True
    return False


def _zips_strippable() -> bool:
    """Spark's pyspark and py4j zips hold the versions that resolve
    without them on this interpreter's path (local workers share its
    site-packages), so the daemon can drop them."""
    from pyspark.find_spark_home import _find_spark_home

    lib = os.path.join(_find_spark_home(), "python", "lib")
    path = [e for e in sys.path if not _in_spark_archive(e)]
    return all(_same_version(z, pkg, path)
               for pkg, pat in _ZIPS.items()
               for z in glob.glob(os.path.join(lib, pat)))


@pytest.mark.spark
def test_worker_imports_nothing_from_spark_archives(spark):
    if not _zips_strippable():
        pytest.skip("no same-version pyspark/py4j outside Spark's zips; "
                    "the daemon keeps them")

    def probe(batches):
        import sys

        import pyspark

        for _ in batches:
            yield pd.DataFrame({
                "path": [list(sys.path)],
                "cache": [list(sys.path_importer_cache)],
                "pyspark": [pyspark.__file__],
            })

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "path array<string>, cache array<string>, pyspark string"
    ).collect()[0]
    assert not [e for e in row["path"] if _in_spark_archive(e)]
    assert not [e for e in row["cache"] if _in_spark_archive(e)]
    assert ".zip" not in row["pyspark"] and ".jar" not in row["pyspark"]


# ------------------------------------------------- strip, fake layouts


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _pkg(root, pkg: str, version: str) -> None:
    d = root / pkg
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    (d / "version.py").write_text(f"__version__ = {version!r}\n")


@pytest.fixture
def layout(tmp_path):
    """A Spark-like worker path: pyspark.zip, the py4j zip and the
    spark-core jar ahead of a site dir holding the same versions, a
    user --py-files zip and a nonexistent stdlib zip."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    (tmp_path / "jars").mkdir()
    site = tmp_path / "site"
    _pkg(site, "pyspark", "4.1.2")
    _pkg(site, "py4j", "0.10.9.9")
    pz = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__ = '4.1.2'\n"})
    qz = _zip(lib / "py4j-0.10.9.9-src.zip", {
        "py4j/__init__.py": "",
        "py4j/version.py": "__version__ = '0.10.9.9'\n"})
    jar = _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar",
               {"org/apache/spark/SparkContext.class": "x"})
    user = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    path = [str(tmp_path / "cwd"), pz, qz, jar, user,
            str(tmp_path / "python311.zip"), str(site)]
    cache = {e: object() for e in path}
    cache[os.path.join(pz, "pyspark")] = object()
    cache[os.path.join(qz, "py4j")] = object()
    return tmp_path, path, cache, (pz, qz, jar), user


def test_strip_drops_spark_archives_and_their_importers(layout):
    _, path, cache, spark_entries, user = layout
    keep = [e for e in path if e not in spark_entries]
    assert strip_spark_archives(path, cache) == list(spark_entries)
    assert path == keep
    assert sorted(cache) == sorted(keep)
    assert user in path


def _drops_only_the_jar(path, cache, jar):
    """`strip_spark_archives` removes the jar and its importer and leaves
    every other entry, both zips and their subpath importers included."""
    before, cache_before = list(path), dict(cache)
    assert strip_spark_archives(path, cache) == [jar]
    assert path == [e for e in before if e != jar]
    assert cache == {k: v for k, v in cache_before.items() if k != jar}


def test_strip_keeps_the_zips_on_a_version_mismatch(layout):
    _, path, cache, (pz, _, jar), _ = layout
    os.remove(pz)
    _zip(pz, {"pyspark/__init__.py": "",
              "pyspark/version.py": "__version__ = '4.0.0'\n"})
    _drops_only_the_jar(path, cache, jar)


def test_strip_keeps_the_zips_without_pyspark_outside_the_zip(layout):
    tmp, path, cache, (_, _, jar), _ = layout
    site = path[-1]
    os.rename(os.path.join(site, "pyspark"), str(tmp / "elsewhere"))
    _drops_only_the_jar(path, cache, jar)


def test_strip_never_drops_a_user_zip(tmp_path):
    user = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    path, cache = [str(tmp_path), user], {user: object()}
    assert strip_spark_archives(path, cache) == []
    assert path == [str(tmp_path), user] and user in cache


# --------------------------------------------- no process left running

_CHILD = """
import json, os
import pandas as pd
from lucene_solr_spark.session import get_spark

spark = get_spark("daemon-exit", cores=1, shuffle_partitions=1)

def daemon_pid(batches):
    import os
    for _ in batches:
        yield pd.DataFrame({"daemon": [os.getppid()]})

row = spark.range(1, numPartitions=1).mapInPandas(
    daemon_pid, "daemon long").collect()[0]
with open(f"/proc/{row['daemon']}/cmdline", "rb") as f:
    cmd = f.read().replace(b"\\0", b" ").decode()
spark.stop()
print(json.dumps({"daemon": row["daemon"], "cmd": cmd}))
"""


def _daemon_group(pgid: int) -> list[int]:
    """Live processes of process group `pgid` whose command line names
    the daemon module (the daemon leads its own group; its forked
    workers share it)."""
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{p}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if MODULE.encode() in cmd and int(stat[2]) == pgid \
                and stat[0] != "Z":
            out.append(int(p))
    return out


@pytest.mark.spark
@pytest.mark.skipif(not os.path.isdir("/proc"), reason="reads /proc")
def test_stopped_session_leaves_no_daemon_process(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    res = subprocess.run([sys.executable, "-c", _CHILD], cwd=ROOT,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert f"-m {MODULE}" in got["cmd"]
    deadline = time.monotonic() + 30
    while _daemon_group(got["daemon"]) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _daemon_group(got["daemon"]) == []
