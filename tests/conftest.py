import datetime as dt
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


# golden rows shared by the file-sink and JDBC-source two-phase harnesses
T = dt.datetime

PART1 = [
    (1, T(2024, 5, 15, 13, 39, 5, 172000), "google", 123, 10, 1, 100, None, None),
    (2, T(2024, 5, 16, 13, 39, 5, 172000), "facebook", 124, 20, 2, 200, "fb", "camp2"),
    (3, T(2024, 5, 17, 13, 39, 5, 172000), "google", 125, 30, 3, 300, "gg", None),
    (4, T(2024, 5, 17, 23, 59, 59, 999000), "twitter", 126, 40, 4, 400, None, "camp4"),
    (5, T(2024, 5, 17, 23, 59, 59, 999000), "google", 127, 50, 5, 500, "gg", "camp5"),
]
PART2 = [
    (6, T(2024, 5, 18, 1, 0, 0, 0), "google", 128, 60, 6, 600, None, None),
    (7, T(2024, 5, 18, 2, 30, 0, 500000), "facebook", 129, 70, 7, 700, "fb", "c7"),
]
COLUMNS = [
    "id",
    "time",
    "source",
    "campaign_id",
    "cost",
    "clicks",
    "impressions",
    "utm_source",
    "utm_campaign",
]


def _expected_line(row):
    vals = dict(zip(COLUMNS, row))
    t = vals["time"]
    iso = t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"
    parts = []
    for k in COLUMNS:
        v = vals[k] if k != "time" else iso
        if v is None:
            parts.append(f'"{k}":null')
        elif isinstance(v, str):
            parts.append(f'"{k}":"{v}"')
        else:
            parts.append(f'"{k}":{v}')
    return "{" + ",".join(parts) + "}"


def drop_latest_commit(ckpt):
    """Simulate a crash between state writes and the offset commit: remove
    the latest commit marker (and its local-FS checksum shadow — leaving
    the .crc behind makes the replay's rename fail with
    FileAlreadyExistsException instead of replaying)."""
    commits = os.path.join(ckpt, "commits")
    latest = max((n for n in os.listdir(commits) if n.isdigit()), key=int)
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from syncmaven_spark.session import get_spark

    # keep the metastore warehouse and derby.log out of the working directory
    home = tmp_path_factory.mktemp("spark_session")
    s = get_spark(
        app_name="syncmaven_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(home / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={home}",
        },
    )
    yield s


@pytest.fixture(scope="session")
def testdata(spark):
    from syncmaven_spark.session import load_tables

    return load_tables(spark, SF_SMOKE)
