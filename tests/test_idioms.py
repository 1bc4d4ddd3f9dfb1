"""Source scan: each idiom lives behind its one helper.

- The shuffle width is read only through ``operators.shuffle_width``.
  The session builders and the streaming state-partition set/restore
  write the conf; nothing else names it.
- No engine module has a two-frame (cogroup) or one-batch-per-group
  (applyInPandas) stage: per-doc stages go through
  ``grouped_map_in_pandas``. The stateful streaming operator is the
  one exception.
- Per-row Python stages go through ``operators.flat_map_in_pandas``:
  ``mapInPandas`` is called directly only by the two Arrow helpers and
  by the stages that work on a whole batch at once.
- A frame is checkpointed or cached only through
  ``operators.materialize``; the session's extracted-spans cache is
  the one exception.
- ``corpus``'s private names stay private: callers use
  ``corpus.spans_of`` and ``corpus.drop_extracted_cache``.
- Every engine module is reachable by imports from the program's entry
  points (the driver contract, the benches, the jobs): a module that
  only tests import is a second implementation to delete. The same
  holds for each top-level function and class of the engine, which
  program code must name in code (a call, an attribute, an import),
  not only in a docstring or comment.
- Data is never written in append mode: a resumable write overwrites
  its pending shards dynamically, and only ``lineage.write_shards``'s
  manifest, written after the data commit, is appended. An append of
  data duplicates it when a crash lands between the data and the
  manifest write.
- Connected components are labeled by one union-find,
  ``geometry.union_find_roots``: no other engine function defines a
  ``find``.
- Arrays are sorted with ``sort_array``, a native sort, not
  ``array_sort``, whose comparator (the default one too) is a lambda
  evaluated interpreted on every comparison. The two differ only in
  where null elements go, so ``array_sort`` stays only where the
  elements may be null.
"""

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_DIRS = ("pero_ocr_spark", "jobs", "BENCH", "perfbench")
PROGRAM_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")

# (file, enclosing function) pairs allowed to name the shuffle conf
SHUFFLE_CONF_OWNERS = {
    ("pero_ocr_spark/operators/__init__.py", "shuffle_width"),
    ("pero_ocr_spark/session.py", "get_spark"),
    ("jobs/extract_job.py", "_spark"),
    ("pero_ocr_spark/streaming/events.py", "_view_click_pairs"),
}


def _program_files():
    for d in PROGRAM_DIRS:
        yield from sorted((ROOT / d).rglob("*.py"))
    for f in PROGRAM_FILES:
        yield ROOT / f


def _rel(path: Path) -> str:
    return path.relative_to(ROOT).as_posix()


def _conf_uses(path: Path):
    """(enclosing function, line) of every "spark.sql.shuffle.partitions"
    string constant in the file."""
    tree = ast.parse(path.read_text(), filename=str(path))

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name if fn is None else fn)
            elif (
                isinstance(child, ast.Constant)
                and child.value == "spark.sql.shuffle.partitions"
            ):
                yield fn, child.lineno
            else:
                yield from walk(child, fn)

    yield from walk(tree, None)


def test_shuffle_width_is_read_in_one_place():
    stray = [
        f"{_rel(p)}:{line} ({fn or 'module level'})"
        for p in _program_files()
        for fn, line in _conf_uses(p)
        if (_rel(p), fn) not in SHUFFLE_CONF_OWNERS
    ]
    assert not stray, (
        "read the shuffle width through operators.shuffle_width: "
        + ", ".join(stray)
    )


# (file, method): the only per-group or two-frame stages allowed
PER_GROUP_OWNERS = {
    # streaming state has no batch form: the state store keys by group
    ("pero_ocr_spark/streaming/events.py", "applyInPandasWithState"),
}


def _engine_files():
    for d in ("pero_ocr_spark", "jobs"):
        yield from sorted((ROOT / d).rglob("*.py"))


def _method_calls(path: Path, names):
    """(enclosing top-level function, method name, line) of every
    ``x.<name>(...)`` call in the file."""
    for top in ast.parse(path.read_text(), filename=str(path)).body:
        fn = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in names
            ):
                yield fn, node.func.attr, node.lineno


def test_no_two_frame_or_per_group_stage():
    names = {"cogroup", "applyInPandas", "applyInPandasWithState"}
    stray = [
        f"{_rel(p)}:{line} ({name})"
        for p in _engine_files()
        for _, name, line in _method_calls(p, names)
        if (_rel(p), name) not in PER_GROUP_OWNERS
    ]
    assert not stray, (
        "run per-doc stages through operators.grouped_map_in_pandas: "
        + ", ".join(stray)
    )


# (file, enclosing function): (mapInPandas calls it keeps, reason).
# Every per-row stage goes through operators.flat_map_in_pandas.
ARROW_MAP_OWNERS = {
    ("pero_ocr_spark/operators/__init__.py", "grouped_batches_in_pandas"): (
        1,
        "the per-group helper itself",
    ),
    ("pero_ocr_spark/operators/__init__.py", "flat_map_in_pandas"): (
        1,
        "the per-row helper itself",
    ),
    ("pero_ocr_spark/operators/ctc.py", "logits_from_lines"): (
        1,
        "runs _synth_batches, the generator recognize_lines also runs "
        "ahead of its batched decode",
    ),
    ("pero_ocr_spark/operators/ctc.py", "decode_greedy"): (
        1,
        "batch-vectorized kernel: one padded tensor per batch",
    ),
    ("pero_ocr_spark/operators/ctc.py", "recognize_lines"): (
        1,
        "batch-vectorized kernel: frame pass and greedy decode per batch",
    ),
    ("pero_ocr_spark/operators/ctc.py", "decode_chunked"): (
        1,
        "batch-vectorized kernel: one greedy decode over all the "
        "batch's chunks",
    ),
    ("pero_ocr_spark/operators/dedup.py", "bloom_dedup"): (
        1,
        "batch-vectorized kernel: numpy bit test over the batch",
    ),
    ("pero_ocr_spark/operators/dedup.py", "_cdc_stream"): (
        1,
        "batch-vectorized kernel: numpy chunk arrays per batch",
    ),
    ("pero_ocr_spark/operators/rtl.py", "arabic_visual_form"): (
        1,
        "a column map that keeps the input schema and index",
    ),
}


def test_arrow_maps_go_through_the_helpers():
    uses: dict[tuple, list[int]] = {}
    for p in _engine_files():
        for fn, _, line in _method_calls(p, {"mapInPandas"}):
            uses.setdefault((_rel(p), fn), []).append(line)
    wrong = [
        f"{path}:{uses.get(key, [])} ({fn or 'module level'})"
        for key in sorted(set(uses) | set(ARROW_MAP_OWNERS), key=str)
        for path, fn in [key]
        if len(uses.get(key, [])) != ARROW_MAP_OWNERS.get(key, (0,))[0]
    ]
    assert not wrong, (
        "run per-row Python stages through operators.flat_map_in_pandas, "
        "and keep ARROW_MAP_OWNERS exact: " + ", ".join(wrong)
    )


# (file, enclosing function, method): (calls it keeps, reason).
# Everything else goes through operators.materialize.
MATERIALIZE_OWNERS = {
    ("pero_ocr_spark/operators/__init__.py", "materialize", "localCheckpoint"): (
        1,
        "the helper itself",
    ),
    ("pero_ocr_spark/corpus.py", "extracted_spans", "persist"): (
        1,
        "a MEMORY_AND_DISK cache shared by the queries of one session, "
        "not a checkpoint inside one query",
    ),
    ("pero_ocr_spark/corpus.py", "drop_extracted_cache", "unpersist"): (
        1,
        "frees that cache",
    ),
}


def test_frames_materialize_through_one_helper():
    names = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}
    uses: dict[tuple, list[int]] = {}
    for p in _engine_files():
        for fn, name, line in _method_calls(p, names):
            uses.setdefault((_rel(p), fn, name), []).append(line)
    wrong = [
        f"{path}:{uses.get(key, [])} ({fn or 'module level'}: {name})"
        for key in sorted(set(uses) | set(MATERIALIZE_OWNERS), key=str)
        for path, fn, name in [key]
        if len(uses.get(key, [])) != MATERIALIZE_OWNERS.get(key, (0,))[0]
    ]
    assert not wrong, (
        "materialize frames with operators.materialize, and keep "
        "MATERIALIZE_OWNERS exact: " + ", ".join(wrong)
    )


def test_corpus_private_names_stay_private():
    private = re.compile(r"\b(_SPANS_ARRAY_EXPR|_EXTRACTED_CACHE)\b")
    stray = [
        f"{_rel(p)}:{i}"
        for p in _program_files()
        if _rel(p) != "pero_ocr_spark/corpus.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if private.search(line)
    ]
    assert not stray, (
        "use corpus.spans_of / corpus.drop_extracted_cache: "
        + ", ".join(stray)
    )


# Modules that only tests may import, and why.
TEST_ONLY_MODULES = {
    # the single-process golden engine the oracle tests compare against
    "pero_ocr_spark.oracle",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path):
    """Dotted names of everything ``path`` imports, at any depth (the
    engine imports lazily inside functions). ``from m import x`` yields
    both ``m`` and ``m.x``: x may be a submodule."""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def test_every_engine_module_is_reachable_from_program_code():
    engine = {
        _module_name(p): p for p in sorted((ROOT / "pero_ocr_spark").rglob("*.py"))
    }
    todo = [p for p in _program_files() if _module_name(p) not in engine]
    reached: set[str] = set()
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs a and a.b too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in engine and mod not in reached:
                    reached.add(mod)
                    todo.append(engine[mod])
    unreached = sorted(set(engine) - reached - TEST_ONLY_MODULES)
    assert not unreached, (
        "engine modules no entry point imports (delete them, or use them): "
        + ", ".join(unreached)
    )


def _code_names(tree: ast.AST):
    """(name, line) of every name, attribute and imported name in the
    tree's code; docstrings and comments don't count."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield a.name.rsplit(".", 1)[-1], node.lineno


def test_every_engine_function_is_named_by_program_code():
    """Each top-level function and class of the engine is named in
    the code of the program outside its own definition (a call, an
    attribute, an import). Registered ``q_*`` queries are reached
    through the registry, and the oracle through the tests."""
    trees = {
        _rel(p): ast.parse(p.read_text(), filename=str(p))
        for p in _program_files()
    }
    names: dict[str, list[tuple[str, int]]] = {}
    for rel, tree in trees.items():
        for name, line in _code_names(tree):
            names.setdefault(name, []).append((rel, line))
    unnamed = []
    for rel, tree in trees.items():
        if not rel.startswith("pero_ocr_spark/") or (
            _module_name(ROOT / rel) in TEST_ONLY_MODULES
        ):
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if rel.startswith("pero_ocr_spark/queries/") and node.name.startswith(
                "q_"
            ):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if not any(
                not (other == rel and first <= line <= node.end_lineno)
                for other, line in names.get(node.name, [])
            ):
                unnamed.append(f"{rel}:{first} {node.name}")
    assert not unnamed, (
        "engine functions only tests name (move them into the tests, or "
        "delete them): " + ", ".join(unnamed)
    )


# (file, enclosing function): (append-mode writes it keeps, reason).
APPEND_OWNERS = {
    ("pero_ocr_spark/operators/lineage.py", "write_shards"): (
        1,
        "the _shards_done manifest, appended after the data commit",
    ),
}


def _append_writes(path: Path):
    """(enclosing top-level function, line) of every ``.mode("append")``
    call and every call passing ``mode="append"``."""
    for top in ast.parse(path.read_text(), filename=str(path)).body:
        fn = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            args = list(node.args) if (
                isinstance(node.func, ast.Attribute) and node.func.attr == "mode"
            ) else []
            args += [k.value for k in node.keywords if k.arg == "mode"]
            if any(
                isinstance(a, ast.Constant) and a.value == "append" for a in args
            ):
                yield fn, node.lineno


def test_data_writes_never_append():
    uses: dict[tuple, list[int]] = {}
    for p in _engine_files():
        for fn, line in _append_writes(p):
            uses.setdefault((_rel(p), fn), []).append(line)
    wrong = [
        f"{path}:{sorted(uses.get(key, []))} ({fn or 'module level'})"
        for key in sorted(set(uses) | set(APPEND_OWNERS), key=str)
        for path, fn in [key]
        if len(uses.get(key, [])) != APPEND_OWNERS.get(key, (0,))[0]
    ]
    assert not wrong, (
        "write data with dynamic partition overwrite "
        "(lineage.write_shards), and keep APPEND_OWNERS exact: "
        + ", ".join(wrong)
    )


# (file, enclosing function): (array_sort calls it keeps, reason).
# Elements that may be null sort last under array_sort, first under
# sort_array.
ARRAY_SORT_OWNERS = {
    ("pero_ocr_spark/operators/timeseries.py", "cusum_alarms"): (
        2,
        "the median and MAD sorts run over per-user event values, which "
        "may be null; the median's element_at indices assume nulls last",
    ),
}


def _array_sort_uses(path: Path):
    """(enclosing top-level function, line) of every array_sort call in
    the file's code and SQL strings; comments don't count."""
    src = path.read_text()
    fns = [
        (node.lineno, node.end_lineno, node.name)
        for node in ast.parse(src, filename=str(path)).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    # Python 3.12+ splits f-strings into FSTRING_* tokens
    strings = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", tokenize.STRING)}
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        hit = (tok.type == tokenize.NAME and tok.string == "array_sort") or (
            tok.type in strings and "array_sort(" in tok.string
        )
        if hit:
            line = tok.start[0]
            fn = next((n for a, b, n in fns if a <= line <= b), None)
            yield fn, line


def test_arrays_are_sorted_natively():
    uses: dict[tuple[str, str | None], list[int]] = {}
    for p in _program_files():
        for fn, line in _array_sort_uses(p):
            uses.setdefault((_rel(p), fn), []).append(line)
    # an allowlisted function that drops its array_sort fails too
    wrong = [
        f"{path}:{uses.get((path, fn), [])} ({fn or 'module level'})"
        for path, fn in sorted(set(uses) | set(ARRAY_SORT_OWNERS), key=str)
        if len(uses.get((path, fn), []))
        != ARRAY_SORT_OWNERS.get((path, fn), (0,))[0]
    ]
    assert not wrong, (
        "sort arrays whose elements cannot be null with sort_array, and "
        "keep ARRAY_SORT_OWNERS exact: " + ", ".join(wrong)
    )


# (file, enclosing top-level function) of the one union-find ``find``
UNION_FIND_OWNER = ("pero_ocr_spark/functions/geometry.py", "union_find_roots")


def test_one_union_find():
    stray = [
        f"{_rel(p)}:{node.lineno} ({top.name})"
        for p in _engine_files()
        for top in ast.parse(p.read_text(), filename=str(p)).body
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        for node in ast.walk(top)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name == "find"
        and (_rel(p), top.name) != UNION_FIND_OWNER
    ]
    assert not stray, (
        "label connected components with geometry.union_find_roots: "
        + ", ".join(stray)
    )
