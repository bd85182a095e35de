"""Library surface guard: every top-level function or class defined in
``contessa_spark/`` or ``__spark_entry__.py``, and every module-level
alias (``name = other_name``), must be referenced from some tracked
``.py`` file (library, ``__spark_entry__.py``, scripts, benchmark or
tests) outside its own definition.

A reference is a name load, an attribute access or an import alias; a
mention in a docstring or comment does not count. Dead definitions
otherwise accumulate silently: each one still costs review, coverage
and refactoring effort while no code path can reach it.
"""

import ast
import os
import subprocess
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_py():
    out = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    return [p for p in out.splitlines() if os.path.exists(os.path.join(REPO, p))]


def _refs(node) -> Counter:
    c = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
    return c


def test_no_unreferenced_top_level_definitions():
    total = Counter()
    defs = []  # (path, name, references inside the definition itself)
    for path in _tracked_py():
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        library = path.startswith("contessa_spark/") or path == "__spark_entry__.py"
        for stmt in tree.body:
            refs = _refs(stmt)
            total.update(refs)
            if library and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((path, stmt.name, refs[stmt.name]))
            elif (
                library
                and isinstance(stmt, ast.Assign)
                and len(stmt.targets) == 1
                and isinstance(stmt.targets[0], ast.Name)
                and isinstance(stmt.value, ast.Name)
            ):
                name = stmt.targets[0].id
                defs.append((path, name, refs[name]))
    assert defs, "scan found no library definitions"
    dead = sorted(
        f"{path}: {name}" for path, name, own in defs if total[name] - own == 0
    )
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)


#: the pandas batch entry points of PySpark's DataFrame and functions API
_PANDAS_ENTRY_POINTS = ("pandas_udf", "mapInPandas", "applyInPandas", "applyInPandasWithState")


def test_one_batch_form_at_the_python_boundary():
    """Library code crosses the JVM↔Python boundary in one batch form,
    Arrow: no library file names a pandas entry point (``pandas_udf``,
    ``mapInPandas``, ``applyInPandas``) as a name, attribute or import;
    docstrings and comments do not count.

    The one exception is ``applyInPandasWithState`` in
    ``contessa_spark/streaming/stateful.py``. Spark's only other
    stateful streaming API, ``transformWithState``, hands ``Row``s to a
    ``StatefulProcessor`` rather than Arrow batches, and it needs
    protobuf, which is not among this project's dependencies."""
    allowed = {("contessa_spark/streaming/stateful.py", "applyInPandasWithState")}
    found = []
    for path in _tracked_py():
        if not (path.startswith("contessa_spark/") or path == "__spark_entry__.py"):
            continue
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            refs = _refs(ast.parse(f.read(), filename=path))
        found += [
            f"{path}: {name}"
            for name in _PANDAS_ENTRY_POINTS
            if refs[name] and (path, name) not in allowed
        ]
    assert not found, "pandas entry points in the library:\n" + "\n".join(found)


#: FNV-1a offset bases and primes, and the SplitMix64 multiplier, in
#: the hex and decimal spellings a hand-written copy would use
_HASH_CONSTANTS = {
    "fnv64 basis": ("0xcbf29ce484222325", "1469598103934665603"),
    "fnv64 prime": ("0x100000001b3", "1099511628211"),
    "fnv32 basis": ("0x811c9dc5", "2166136261"),
    "fnv32 prime": ("0x01000193", "16777619"),
    "splitmix64 multiplier": ("0x94d049bb133111eb", "10723151780598845931"),
}


def test_hash_constants_live_in_one_module():
    """Every string-hash and mixer constant appears in one library file,
    ``contessa_spark/hashing.py``: a second copy means a second
    hand-written kernel."""
    found = {name: set() for name in _HASH_CONSTANTS}
    for path in _tracked_py():
        if not (path.startswith("contessa_spark/") or path == "__spark_entry__.py"):
            continue
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            text = f.read().lower()
        for name, spellings in _HASH_CONSTANTS.items():
            if any(s in text for s in spellings):
                found[name].add(path)
    assert found == {name: {"contessa_spark/hashing.py"} for name in _HASH_CONSTANTS}


def test_group_emitter_used_only_through_group_pairs():
    """Every capped pair emitter forms its groups through one function,
    ``dedup._group_pairs``: no other library code references the
    ``mapInArrow`` body ``_emit_group_pairs`` or a separate cap step
    ``_cap_groups``."""
    private = ("_emit_group_pairs", "_cap_groups")
    found = []
    for path in _tracked_py():
        if not (path.startswith("contessa_spark/") or path == "__spark_entry__.py"):
            continue
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for stmt in tree.body:
            if path == "contessa_spark/operators/dedup.py" and getattr(stmt, "name", None) == "_group_pairs":
                continue
            refs = _refs(stmt)
            found += [f"{path}: {name}" for name in private if refs[name]]
    assert not found, "group emitter used outside dedup._group_pairs:\n" + "\n".join(found)


def test_subword_apply_kernel_lives_in_one_place():
    """The subword tokenizers (BPE, unigram, WordPiece) share one apply
    kernel, ``bpe._subword_udf``: the word-memo bound (2M words) is an
    integer literal in one library file, and no per-tokenizer memo
    factory ``_make_word_encoder`` is defined again."""
    bound, factories = set(), []
    for path in _tracked_py():
        if not (path.startswith("contessa_spark/") or path == "__spark_entry__.py"):
            continue
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and type(n.value) is int and n.value == 2_000_000:
                bound.add(path)
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == "_make_word_encoder":
                factories.append(path)
    assert bound == {"contessa_spark/functions/bpe.py"}, bound
    assert not factories, factories


#: library files whose UDFs take their words from ``hashing.word_table``
_WORD_UDF_FILES = (
    "contessa_spark/functions/annotate_udf.py",
    "contessa_spark/operators/dedup.py",
    "contessa_spark/functions/bpe.py",
    "contessa_spark/functions/quality_classifier.py",
)


def test_one_word_split_for_word_level_udfs():
    """``hashing.word_table`` is the one word split of the word-level
    UDFs: Arrow's ``utf8_split_whitespace`` is named in no other library
    file, the per-list helpers ``lower_words`` / ``unique_tokens`` it
    replaced are defined nowhere, and the word-UDF modules make no
    zero-argument ``.split()`` call."""
    split_elsewhere, old_helpers, bare_splits = [], [], []
    for path in _tracked_py():
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            src = f.read()
        tree = ast.parse(src, filename=path)
        library = path.startswith("contessa_spark/") or path == "__spark_entry__.py"
        if library and path != "contessa_spark/hashing.py" and "utf8_split_whitespace" in src:
            split_elsewhere.append(path)
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name in ("lower_words", "unique_tokens"):
                old_helpers.append(f"{path}: {n.name}")
            elif (
                path in _WORD_UDF_FILES
                and isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "split"
                and not n.args
                and not n.keywords
            ):
                bare_splits.append(f"{path}:{n.lineno}")
    assert not split_elsewhere, split_elsewhere
    assert not old_helpers, old_helpers
    assert not bare_splits, bare_splits


#: the embedding family's modules; ``dedup.py`` joins them with its
#: one embedding function, ``embedding_near_dups_blocked``
_EMBEDDING_FILES = (
    "contessa_spark/operators/similarity.py",
    "contessa_spark/operators/semantic.py",
    "contessa_spark/operators/clustering.py",
    "contessa_spark/operators/decontaminate.py",
)
_PANDAS_FORMS = ("np.array(list(", "pandas_udf", "mapInPandas", "applyInPandas")


def _is_dim_inference(node) -> bool:
    """A ``….first()`` call whose receiver calls ``size(…)``: the
    ``select(F.size(vec)).first()`` read of an embedding's dimension."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "first"
        and any(
            isinstance(n, ast.Call)
            and getattr(n.func, "attr", getattr(n.func, "id", None)) == "size"
            for n in ast.walk(node.func.value)
        )
    )


def test_one_embedding_batch_kernel():
    """The embedding operators read every batch through
    ``vectors.matrix``: no pandas entry point and no hand-built
    ``np.array(list(...))`` matrix in their modules or in
    ``dedup.embedding_near_dups_blocked``; one dim inference in the
    library (``vectors.embedding_base``), and no row norm taken outside
    ``vectors``."""
    sources = {}
    for path in _tracked_py():
        if path.startswith("contessa_spark/") or path == "__spark_entry__.py":
            with open(os.path.join(REPO, path), encoding="utf-8") as f:
                sources[path] = f.read()
    tree = ast.parse(sources["contessa_spark/operators/dedup.py"])
    (blocked,) = [n for n in tree.body if getattr(n, "name", None) == "embedding_near_dups_blocked"]
    checked = {p: sources[p] for p in _EMBEDDING_FILES}
    checked["dedup.embedding_near_dups_blocked"] = ast.get_source_segment(
        sources["contessa_spark/operators/dedup.py"], blocked
    )
    pandas_forms = [f"{p}: {form}" for p, src in checked.items() for form in _PANDAS_FORMS if form in src]
    assert not pandas_forms, pandas_forms

    inference, norm_calls = [], []
    for path, src in sources.items():
        for n in ast.walk(ast.parse(src)):
            if _is_dim_inference(n):
                inference.append(path)
            elif isinstance(n, ast.Attribute) and n.attr == "norm" and (path in checked or path.endswith("dedup.py")):
                norm_calls.append(path)
    assert inference == ["contessa_spark/vectors.py"], inference
    assert not norm_calls, norm_calls


def test_perfbench_trace_targets_resolve(tmp_path):
    """Every ``(owner, attr)`` a perfbench workload's ``patch_targets``
    wraps in a traced run still exists where the tracer looks it up: a
    module attribute, or a name in a class's own ``__dict__``. A
    library refactor that moves one would make every traced op raise."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(REPO, "perfbench", "workloads.py")
    )
    workloads = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(workloads)
    missing, seen = [], 0
    for name, cls in workloads.WORKLOADS.items():
        for owner, attr, _span in cls(str(tmp_path / name), 0, None).patch_targets():
            seen += 1
            found = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
            if found is None:
                missing.append(f"{name}: {owner.__name__}.{attr}")
    assert seen, "no workload declares trace targets"
    assert not missing, missing
