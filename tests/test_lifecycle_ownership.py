"""Single ownership of the materialization lifecycle.

The driver-side pool, the weak per-frame memo, the artifact stamp
attributes and the i<j pair expansion each live once, in
`polars_ds_extension_spark/_utils.py`. This scan fails when a copy of
any of them reappears in another module of the package.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "polars_ds_extension_spark"

OWNED = {
    "driver-side pool": r"ThreadPoolExecutor",
    "weak per-frame memo": r"WeakKeyDictionary",
    "artifact stamp attribute": r"\._pds_\w+_stamp",
    "i<j pair slice": r"i \+ 2,",
}


def test_lifecycle_helpers_live_only_in_utils():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 20  # the scan really covers the package
    owner = PKG / "_utils.py"
    assert re.search(OWNED["driver-side pool"], owner.read_text())
    offenders = [
        f"{path.relative_to(PKG)}: {what}"
        for path in files if path != owner
        for what, pattern in OWNED.items()
        if re.search(pattern, path.read_text(encoding="utf-8"))
    ]
    assert not offenders, offenders
