from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from polygon_daily_market_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    import tempfile

    wh = tempfile.mkdtemp(prefix="spark_wh_")
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": wh,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def landing_csv(tmp_path):
    """FIXTURES.md §1: a synthetic polygon day with the required edge
    cases — duplicate keys, case/whitespace symbol variants, malformed
    numerics, null sentinels."""

    def write(name: str, rows: list[str], header: bool = True) -> str:
        p = tmp_path / name
        head = "trade_date,symbol,open,high,low,close,volume\n" if header else ""
        p.write_text(head + "\n".join(rows) + ("\n" if rows else ""))
        return str(p)

    return write


GOOD_DAY = [  # 2024-01-05 is a Friday
    "2024-01-05,AAPL,181.5,182.9,180.1,181.9,51000000",
    "2024-01-05,aapl ,181.6,183.0,180.2,182.0,52000000",  # dup after norm
    "2024-01-05,MSFT,367.0,370.1,366.0,368.2,23000000",
    "2024-01-05,GOOG,135.1,136.8,134.9,135.7,18000000",
    "2024-01-05,BRK.A,542000,545000,540100,544000,1200",
    "2024-01-05,XBAD,not_a_number,1.0,0.9,NaN,garbage",  # malformed → NULLs
    "2024-01-05,NULLS,,NULL,NaN,,",
]


def pad_day(rows: list[str], date: str, n: int = 120) -> list[str]:
    """Pad a fixture day past the 100-ticker DQ floor."""
    return rows + [
        f"{date},SYM{i:04d},{10+i}.5,{11+i}.2,{9+i}.8,{10+i}.9,{1000*(i+1)}"
        for i in range(n)
    ]
