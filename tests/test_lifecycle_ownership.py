"""Single ownership of the materialization lifecycle.

The driver-side pool, the weak per-frame memo, the artifact stamp
attributes and the i<j pair expansion each live once, in
`polars_ds_extension_spark/_utils.py`. This scan fails when a copy of
any of them reappears in another module of the package.
"""

import ast
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


def _sites(pattern):
    """(module, enclosing top-level def) of every match in the package."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text(encoding="utf-8")
        for m in re.finditer(pattern, text):
            defs = re.findall(r"^def (\w+)", text[:m.start()], re.M)
            found.append((str(path.relative_to(PKG)), defs[-1] if defs else None))
    return found


def test_interpreted_kgram_hashing_lives_only_in_hashed_char_shingles():
    """A JVM lambda that xxhash64-es each char k-gram (a substring window,
    or each element of `char_shingles`) is not codegen'd; the minhash
    plans hash k-grams in the `shingle_minhash` Arrow kernel. The
    interpreted form stays only as `hashed_char_shingles`, the reference
    the parity tests compare the kernel against."""
    found = _sites(r"xxhash64\(F\.substring|transform\(\s*char_shingles")
    assert found == [("operators/dedup.py", "hashed_char_shingles")], found


def test_minhash_near_dup_core_is_written_once():
    """The MinHash near-dup operators share one collapse construction,
    one candidate frame and one verify step; a second copy of any of
    them can drift from the others. The streaming near-dup filter keeps
    its own stream-static Jaccard filter, which already scores each
    pair once."""
    dedup = "operators/dedup.py"
    assert _sites(r'F\.min\(F\.struct\("__m", "__t"\)\)') == [
        (dedup, "_rep_corpus")]
    assert _sites(r"(?<!def )\b_lsh_buckets\(") == [(dedup, "_lsh_candidates")]
    assert _sites(r"(?<!def )\bjaccard_distinct\(") == [
        (dedup, "_verify_join"), ("streaming/ops.py", "stream_near_dup_flags")]


def _inference_reads():
    """(module, enclosing top-level def) of every `<x>.read[...].parquet(`
    call whose reader chain sets no `.schema(...)`."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in tree.body:
            for node in ast.walk(top):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "parquet"):
                    continue
                chain = node.func.value
                while (isinstance(chain, ast.Call)
                       and isinstance(chain.func, ast.Attribute)
                       and chain.func.attr != "schema"):
                    chain = chain.func.value
                if isinstance(chain, ast.Attribute) and chain.attr == "read":
                    found.append((str(path.relative_to(PKG)),
                                  getattr(top, "name", None)))
    return found


def test_parquet_schema_inference_lives_only_in_the_footer_fallback():
    """A Parquet read with no schema infers it with a Spark job. Table
    loads read the schema from the footer on the driver instead
    (`sources.parquet_schema`); the bare read stays only as that
    helper's fallback for a path with no readable data file."""
    assert _inference_reads() == [("sources/tables.py", "parquet_schema")]
