"""Static anti-pattern guard over the engine source — pins the
scale posture as a test instead of a per-round re-grep:

- ZERO row-at-a-time Python UDFs (the only Python on the hot path is
  Arrow-batched: pandas_udf / mapInPandas / applyInPandas);
- every crossJoin broadcasts a scalar/tiny side (or sits on the
  explicit allowlist with a reason);
- driver-side .collect() stays confined to the files where it is
  documented metadata-sized (dates, centroids, codebooks, manifest
  state) — a new collect anywhere forces a conscious allowlist edit;
- no RDD API on the query path (DataFrame-only engine).
"""

from __future__ import annotations

import os
import re

ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "roborock_data_pipeline_spark",
)

# files allowed to call .collect(), with the maximum number of call
# sites; every one is driver-state-sized (dates / centroids /
# codebooks / audit scalars), never table rows. Raising a number
# here is a conscious review act.
COLLECT_ALLOW = {
    "plans/inspect.py": 1,       # plan-string capture for tests
    "operators/clustering.py": 2,  # k x d centroids
    "operators/similarity.py": 8,  # centroids + PQ codebooks; r15
                                   # adds the fused probe+seed and
                                   # probe+centroid metadata collects
                                   # (k rows each — they REPLACE a
                                   # first() and a second collect job)
    "sources/export.py": 1,      # shard manifest (one row per shard)
    "sources/sinks.py": 2,       # audit scalar; delete/update affected-dir
                                 # list (dir names + counts, never rows)
    "pipeline.py": 2,            # touched-date list, CLI status rows
}

# crossJoin sites whose non-broadcast side is provably tiny
CROSSJOIN_ALLOW = {
    # date spine x distinct event types: both driver-small, and the
    # join IS the product being built (scaffold semantics)
    ("operators/layout.py", "spine_days.crossJoin(types)"),
    # two 1-row aggregates (recall gate): scalar x scalar
    ("operators/accuracy.py", "t.crossJoin(a)"),
}


def _engine_files():
    for root, _dirs, files in os.walk(ENGINE):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                yield os.path.relpath(p, ENGINE), open(p).read()


def test_no_row_at_a_time_python_udfs():
    pat = re.compile(r"F\.udf\(|@udf\b|udf\.register|UserDefinedFunction\(")
    hits = [
        f"{rel}: {m.group(0)}"
        for rel, src in _engine_files()
        for m in pat.finditer(src)
    ]
    assert hits == [], f"row-at-a-time UDFs introduced: {hits}"


def test_no_rdd_api_on_query_path():
    # .rdd / sparkContext.parallelize would bypass Catalyst entirely;
    # mapPartitions only exists as the DataFrame mapInPandas form
    pat = re.compile(r"\.rdd\b|parallelize\(|\.mapPartitions\(")
    hits = [
        f"{rel}: {m.group(0)}"
        for rel, src in _engine_files()
        for m in pat.finditer(src)
    ]
    assert hits == [], f"RDD API introduced: {hits}"


def test_crossjoins_broadcast_a_tiny_side():
    bad = []
    for rel, src in _engine_files():
        for line in src.splitlines():
            if "crossJoin" not in line:
                continue
            if "F.broadcast(" in line:
                continue
            if any(
                rel == f and snippet in line
                for f, snippet in CROSSJOIN_ALLOW
            ):
                continue
            bad.append(f"{rel}: {line.strip()}")
    assert bad == [], f"non-broadcast crossJoin introduced: {bad}"


def test_driver_collects_stay_metadata_sized():
    unexpected, over = [], []
    for rel, src in _engine_files():
        n = src.count(".collect()")
        if n == 0:
            continue
        cap = COLLECT_ALLOW.get(rel)
        if cap is None:
            unexpected.append(f"{rel}: {n}")
        elif n > cap:
            over.append(f"{rel}: {n} > {cap}")
    assert unexpected == [], f"collect() in new files: {unexpected}"
    assert over == [], f"collect() count grew: {over}"


# every os.replace call site in the engine, with its justification.
# r13 (VERDICT r12 #1 done-condition): NO os.replace may make a
# target reader-visible — a rename is either (a) inside
# commit_provider itself (the local-FS form of the atomic pointer
# PUT / rename-aside steal) or (b) pure NAMING under a naming lock
# (the dir stays invisible until a manifest/pointer commit). Adding
# a rename anywhere else must fail this pin and force a conscious
# review.
REPLACE_ALLOW = {
    # (a) the provider's own primitives
    "sources/commit_provider.py": 2,   # swap_pointer tmp->path; steal aside
    # (b) naming-only renames, commit = pointer swap
    "sources/versioned_dir.py": 2,     # staged -> v-{gen} + the
                                       # trash-rename (both invisible
                                       # names, under _lock)
    "operators/index_segments.py": 3,  # publish/commit_base naming + trash rename
    "operators/funnel_txn.py": 1,      # roll-forward naming (record = commit)
    "streaming/near_dup_pairs.py": 2,  # epoch naming + trash rename
    "sources/sinks.py": 5,             # append/overwrite/DML-rw/merge-base
                                       # naming under _manifest_lock (4 sites)
                                       # + overwrite_partitions' version-leaf
                                       # naming (invisible until the
                                       # _partitions.json commit)
    # local build artifact (executor zip), not a data commit
    "session.py": 1,
}


def test_no_reader_visible_os_replace_outside_the_seam():
    unexpected, over = [], []
    for rel, src in _engine_files():
        n = len(re.findall(r"os\.replace\(", src))
        if n == 0:
            continue
        cap = REPLACE_ALLOW.get(rel)
        if cap is None:
            unexpected.append(f"{rel}: {n}")
        elif n > cap:
            over.append(f"{rel}: {n} > {cap}")
    assert unexpected == [], (
        "os.replace in new files (route the commit through "
        f"commit_provider / versioned_dir instead): {unexpected}"
    )
    assert over == [], f"os.replace count grew: {over}"
