"""registry.CACHE_FAMILIES drift guard.

The family map tells bench readers which per-query medians share a
session-cached subtree (cold/rider semantics). A query that starts (or
stops) consuming a cached helper without a map update would silently
mis-tag its bench row, so this test re-derives membership from the
static call graph — every registry query fn's transitive callees,
intersected with the known session_cache'd helper names — and asserts
it equals the committed map.
"""

from __future__ import annotations

import ast
import collections
import os

from simple_map_reduce_ruuner_spark.registry import CACHE_FAMILIES, all_queries

# session_cache'd helpers (or on-disk index builders), per family. Adding a
# new session_cache call site requires a row here AND in CACHE_FAMILIES
# (test_every_cached_helper_is_mapped below fails otherwise).
FAMILY_HELPERS = {
    "lsh_pipeline": {
        "_doc_shingle_hashes",
        "neardup_minhash_lsh",
        "neardup_lsh_verified",
        "neardup_clusters",
    },
    "simhash": {"simhash"},
    "cotrading": {"_cotrading_counts"},
    "emb_broadcast": {"neardup_embedding"},
    # on-disk content-keyed index rather than session_cache, but the
    # same cold/rider bench semantics: first member builds, rest reuse
    "ivf_index": {"build_ivf_index"},
    "bpe_merges": {"build_bpe_merges"},
    # textlm's "bpe_chain" key: the k-step training chain built once per
    # (session, corpus); the index writer also rides it when it builds
    "bpe_chain": {"_bpe_state_chain"},
}

_OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "simple_map_reduce_ruuner_spark",
    "operators",
)


def _call_graph() -> dict[str, set[str]]:
    """fn name -> set of names it calls, across all operator modules.
    Edges are ast.Name calls ONLY: cached helpers are always called
    unqualified within the operators package (helper names are unique,
    test_helper_names_unique pins that), and counting ast.Attribute
    names would create false family memberships whenever a DataFrame/
    module method happens to share a helper's name (advice-found);
    test_no_helper_called_as_attribute guards the blind spot."""
    calls: dict[str, set[str]] = collections.defaultdict(set)
    for fname in sorted(os.listdir(_OPS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(_OPS_DIR, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                for sub in ast.walk(node):
                    if (
                        isinstance(sub, ast.Call)
                        and isinstance(sub.func, ast.Name)
                    ):
                        calls[node.name].add(sub.func.id)
    return calls


def test_no_helper_called_as_attribute():
    """The Name-only call graph above cannot see `mod.helper(...)` —
    if a cached helper is ever invoked as an attribute call anywhere in
    the operators package, membership derivation would silently miss
    that consumer. Forbid the pattern outright (call helpers via a
    plain import) so the graph stays complete."""
    helper_names = set().union(*FAMILY_HELPERS.values())
    offenders = []
    for fname in sorted(os.listdir(_OPS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(_OPS_DIR, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in helper_names
            ):
                offenders.append(f"{fname}:{node.lineno}:{node.func.attr}")
    assert not offenders, (
        f"cached helpers invoked as attribute calls (invisible to the "
        f"Name-only call graph): {offenders} — import and call them "
        "unqualified instead"
    )


def _derived_families() -> dict[str, set[str]]:
    calls = _call_graph()
    helper_to_family = {
        h: fam for fam, hs in FAMILY_HELPERS.items() for h in hs
    }
    derived: dict[str, set[str]] = {fam: set() for fam in FAMILY_HELPERS}
    for qname, q in all_queries().items():
        seen: set[str] = set()
        stack = [q.fn.__name__]
        while stack:
            cur = stack.pop()
            if cur in seen:
                continue
            seen.add(cur)
            stack.extend(calls.get(cur, ()))
        for h in seen & helper_to_family.keys():
            derived[helper_to_family[h]].add(qname)
    return derived


def test_cache_families_match_call_graph():
    derived = _derived_families()
    committed = {fam: set(ms) for fam, ms in CACHE_FAMILIES.items()}
    assert committed == derived, (
        f"registry.CACHE_FAMILIES drifted from the code: "
        f"derived={ {f: sorted(m) for f, m in derived.items()} }"
    )


def test_every_cached_helper_is_mapped():
    """Every session_cache( call site in the operators package must be
    inside one of the FAMILY_HELPERS functions — a new cached subtree
    without a family row would make bench tagging silently incomplete."""
    known = set().union(*FAMILY_HELPERS.values())
    offenders = []
    for fname in sorted(os.listdir(_OPS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(_OPS_DIR, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            for sub in ast.walk(node):
                if (
                    isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Name)
                    and sub.func.id == "session_cache"
                    and node.name not in known
                ):
                    offenders.append(f"{fname}:{node.name}")
    assert not offenders, (
        f"session_cache call sites outside FAMILY_HELPERS: {offenders} — "
        "add the helper to FAMILY_HELPERS and the consumers to "
        "registry.CACHE_FAMILIES"
    )


def test_session_cache_family_keys_distinct():
    """session_cache keys entries by its family string, so two call
    sites passing the same family would silently hand each other their
    cached values. Every call site in the operators package must pass a
    string literal, no two the same, and none under the ``table:``
    prefix that sources.tables.load_table owns."""
    sites: dict[str, list[str]] = collections.defaultdict(list)
    non_literal = []
    for fname in sorted(os.listdir(_OPS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(_OPS_DIR, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "session_cache"
            ):
                continue
            fam = node.args[0] if node.args else None
            if isinstance(fam, ast.Constant) and isinstance(fam.value, str):
                sites[fam.value].append(f"{fname}:{node.lineno}")
            else:
                non_literal.append(f"{fname}:{node.lineno}")
    assert sites, "no session_cache call sites found"
    assert not non_literal, (
        f"session_cache call sites without a string-literal family: "
        f"{non_literal}"
    )
    dupes = {f: locs for f, locs in sites.items() if len(locs) > 1}
    assert not dupes, f"session_cache family keys reused: {dupes}"
    reserved = sorted(f for f in sites if f.startswith("table:"))
    assert not reserved, f"families under load_table's 'table:' prefix: {reserved}"


def test_helper_names_unique():
    """The call graph is name-based; a second function with a cached
    helper's name in another module would make membership derivation
    ambiguous."""
    names = set().union(*FAMILY_HELPERS.values())
    counts: dict[str, int] = {n: 0 for n in names}
    for fname in sorted(os.listdir(_OPS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(_OPS_DIR, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in counts:
                counts[node.name] += 1
    dupes = {n: c for n, c in counts.items() if c != 1}
    assert not dupes, f"helper names not unique across operators/: {dupes}"
