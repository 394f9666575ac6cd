"""Window-rotation gate: changed queries must sit inside the driver's window.

The external correctness gate checks only the FIRST 50 ``queries()`` entries,
so the repo policy (VERDICT r3/r4) parks only long-stable queries past the
window and rotates anything recently changed to the front.  Round 3 showed the
policy can slip silently; this tool makes it mechanical:

- base = the most recent driver round-boundary commit (``round N: ...``);
- a query is DIRTY if, relative to that base (committed or not),
  (a) any top-level definition (function/class/assignment UNIT) reachable from
      its implementing function through name references — within a module and
      across ``ocr_engine_spark`` import bindings — changed, was added, or was
      removed, or
  (b) its oracle_sql() entry text changed / is new in ``__spark_entry__.py``
      (regex-extracted; constants interpolated through f-strings are outside
      the diff, a documented limitation);
- every dirty query must sit in positions 1..WINDOW of ``queries()``.

Dirtiness is UNIT-level, not module-level (the r05 upgrade): appending new
operators to a shared module no longer dirties every query that imports the
module — only queries whose call closure actually reaches a changed
definition.  Precision never costs soundness; everything unresolvable falls
back to conservative whole-module dirtiness:

- module file unparseable at base, newly added, or deleted -> all units dirty;
- module-level statements OUTSIDE def/class/assignment changed (loose calls,
  try blocks, conditional imports) -> all units of that module dirty;
- ``from M import *``, a dotted ``ocr_engine_spark.x`` mention outside an AST
  import (lazy importlib, docstring reference), or an attribute/import name
  that does not resolve to a unit of the target module -> depends on ALL of
  that module's units;
- an import binding whose target moved between base and HEAD dirties every
  unit referencing that name.

Run directly (``python tools/check_window.py``) or via the pytest wrapper in
``tests/test_contract_tail.py``; exit code 1 on violation.  On success the
direct run prints the dirty-query count and how many window slots still hold
clean queries (the headroom of the next rotation).
"""

from __future__ import annotations

import ast
import pathlib
import re
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

WINDOW = 50
PKG = "ocr_engine_spark"
_REF = re.compile(rf"{PKG}(?:\.\w+)+")
_ORACLE = re.compile(r'"(\w+)":\s*f?"""(.*?)"""', re.DOTALL)

# sentinel unit name meaning "all units of the module"
ALL = "*"
# sentinel unit for top-level statements that are not def/class/assignment
TOPLEVEL = "<module-toplevel>"


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, capture_output=True,
                          text=True, timeout=30).stdout


def last_round_commit() -> str | None:
    out = _git("log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%H")
    return out.strip() or None


def changed_files(base: str) -> set[str]:
    files = set(_git("diff", "--name-only", f"{base}..HEAD").split())
    files |= {line[3:].split(" -> ")[-1]
              for line in _git("status", "--porcelain").splitlines() if line}
    return files


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _resolve_from(module: str | None, level: int, pkg_parts: list[str]) -> str:
    """Resolve an ImportFrom's source module against the importing package."""
    if level:
        base_parts = pkg_parts[:len(pkg_parts) - (level - 1)]
        return ".".join(base_parts + ([module] if module else []))
    return module or ""


class ModuleInfo:
    """Unit decomposition of one module version.

    units: unit name -> structural hash (ast.dump) of its definition(s).
    refs: unit name -> local names it references (Load-context Names plus the
      roots of Attribute chains).
    attr_refs: unit name -> set of (local root name, first attribute) pairs,
      so ``m.f(...)`` can resolve to unit ``f`` of the module bound to ``m``.
    bindings: local name -> (module, remote name | None); None = whole module
      (``import M as m``).  Only ocr_engine_spark targets are kept.
    star_deps: modules wildcard-imported or textually referenced -> depend on
      ALL their units.
    """

    def __init__(self, text: str, pkg_parts: list[str]):
        self.units: dict[str, str] = {}
        self.refs: dict[str, set[str]] = {}
        self.attr_refs: dict[str, set[tuple[str, str]]] = {}
        self.bindings: dict[str, tuple[str, str | None]] = {}
        self.star_deps: set[str] = set()
        # (local name, binding) of every in-function package import
        self._lazy: list[tuple[str, tuple[str, str | None]]] = []
        self.parsed = False
        try:
            tree = ast.parse(text)
        except SyntaxError:
            return
        self.parsed = True
        toplevel_dumps: list[str] = []
        ast_import_targets: set[str] = set()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                self._add_unit(node.name, node)
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
                if names:
                    for n in names:
                        self._add_unit(n, node)
                else:  # tuple/attribute targets: conservative
                    toplevel_dumps.append(ast.dump(node))
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                                ast.Name):
                self._add_unit(node.target.id, node)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    ast_import_targets.add(a.name)
                    if a.name.startswith(PKG):
                        self.bindings[a.asname or a.name.split(".")[0]] = (
                            a.name, None)
            elif isinstance(node, ast.ImportFrom):
                src = _resolve_from(node.module, node.level, pkg_parts)
                ast_import_targets.add(src)
                if not src.startswith(PKG):
                    continue
                for a in node.names:
                    if a.name == "*":
                        self.star_deps.add(src)
                    else:
                        self.bindings[a.asname or a.name] = (src, a.name)
            elif isinstance(node, ast.Expr) and isinstance(
                    node.value, ast.Constant):
                continue  # module docstring / bare string: no behavior
            else:
                toplevel_dumps.append(ast.dump(node))
        if toplevel_dumps:
            self.units[TOPLEVEL] = "\n".join(toplevel_dumps)
        # a lazy in-function import whose binding survived at module scope is
        # tracked name-by-name like a top-level one
        ast_import_targets |= {b[0] for local, b in self._lazy
                               if self.bindings.get(local) == b}
        # dotted textual mentions not covered by an AST import: lazy
        # importlib strings, docstring references -> depend on all of them
        for dotted in set(_REF.findall(text)):
            mod = dotted
            while mod and mod not in ast_import_targets:
                if "." not in mod:
                    mod = ""
                    break
                mod = mod.rsplit(".", 1)[0]
            if not mod:  # never AST-imported under any prefix
                self.star_deps.add(dotted)

    def _add_unit(self, name: str, node: ast.AST) -> None:
        # a name defined twice (reassignment) folds into one unit whose hash
        # covers every definition, so any redefinition change dirties it
        dump = ast.dump(node)
        self.units[name] = (self.units.get(name, "") + "\n" + dump).strip()
        names: set[str] = self.refs.setdefault(name, set())
        attrs: set[tuple[str, str]] = self.attr_refs.setdefault(name, set())
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                names.add(sub.id)
            elif isinstance(sub, ast.Attribute) and isinstance(sub.value,
                                                               ast.Name):
                attrs.add((sub.value.id, sub.attr))
            elif isinstance(sub, (ast.Import, ast.ImportFrom)):
                # lazy in-function import: bind at module scope
                # (conservative: names may shadow, but only widens deps)
                pkg_parts_dummy: list[str] = []
                if isinstance(sub, ast.Import):
                    for a in sub.names:
                        if a.name.startswith(PKG):
                            local = a.asname or a.name.split(".")[0]
                            self.bindings[local] = (a.name, None)
                            self._lazy.append((local, (a.name, None)))
                else:
                    src = sub.module or ""
                    if sub.level:
                        # relative lazy import: cannot resolve without the
                        # file context here; handled by caller re-walk below
                        continue
                    if src.startswith(PKG):
                        for a in sub.names:
                            if a.name == "*":
                                self.star_deps.add(src)
                            else:
                                local = a.asname or a.name
                                self.bindings[local] = (src, a.name)
                                self._lazy.append((local, (src, a.name)))
                del pkg_parts_dummy


def _module_text(base: str | None, path: pathlib.Path) -> str | None:
    if base is None:  # working tree
        try:
            return path.read_text()
        except OSError:
            return None
    rel = path.relative_to(REPO).as_posix()
    proc = subprocess.run(["git", "show", f"{base}:{rel}"], cwd=REPO,
                          capture_output=True, text=True, timeout=30)
    return proc.stdout if proc.returncode == 0 else None


def _load_infos(base: str | None) -> dict[str, ModuleInfo]:
    infos: dict[str, ModuleInfo] = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        text = _module_text(base, path)
        if text is None:
            continue
        pkg_parts = list(path.relative_to(REPO).with_suffix("").parts)[:-1]
        infos[_module_name(path)] = ModuleInfo(text, pkg_parts)
    return infos


def dirty_units(base: str) -> tuple[dict[str, set[str]], dict[str, set[str]]]:
    """Returns (dirty, seed): module -> dirty unit names ('*' = all units).

    ``seed`` holds only DIRECTLY edited units (structural diff vs base);
    ``dirty`` adds everything reachable from a seed through name references.
    The distinction drives the overflow policy: a directly-edited query is
    tier 1 (must be driver-checked), a ripple-dirty one is tier 2.
    """
    changed = changed_files(base)
    changed_mods = {_module_name(REPO / f) for f in changed
                    if f.startswith(f"{PKG}/") and f.endswith(".py")}
    head = _load_infos(None)
    old = _load_infos(base)
    return propagate_dirty(head, seed_dirty(head, old, changed_mods))


def seed_dirty(head: dict[str, "ModuleInfo"], old: dict[str, "ModuleInfo"],
               changed_mods: set[str]) -> dict[str, set[str]]:
    """Per-unit structural diffs inside changed modules (the tier-1 seed)."""
    dirty: dict[str, set[str]] = {}

    def mark(mod: str, unit: str) -> None:
        dirty.setdefault(mod, set()).add(unit)

    for mod in changed_mods:
        h, o = head.get(mod), old.get(mod)
        if h is None or o is None or not h.parsed or not o.parsed:
            if h is not None:
                mark(mod, ALL)
            continue
        if h.units.get(TOPLEVEL, "") != o.units.get(TOPLEVEL, ""):
            mark(mod, ALL)
            continue
        if h.bindings != o.bindings or h.star_deps != o.star_deps:
            # an import binding moved: dirty every unit referencing a moved
            # name (cheap superset: any unit referencing any rebound name)
            moved = {n for n in set(h.bindings) | set(o.bindings)
                     if h.bindings.get(n) != o.bindings.get(n)}
            for unit, names in h.refs.items():
                if names & moved:
                    mark(mod, unit)
        for unit, dump in h.units.items():
            if o.units.get(unit) != dump:
                mark(mod, unit)
        for unit in o.units:
            if unit not in h.units:
                # removed definition: anything resolving to it is unresolvable
                mark(mod, unit)
    return dirty


def propagate_dirty(head: dict[str, "ModuleInfo"],
                    seed: dict[str, set[str]],
                    ) -> tuple[dict[str, set[str]], dict[str, set[str]]]:
    """Fixpoint closure of the seed through name references on HEAD."""
    dirty = {mod: set(us) for mod, us in seed.items()}
    for mod in head:
        dirty.setdefault(mod, set())

    def is_dirty(mod: str, unit: str | None) -> bool:
        d = dirty.get(mod)
        if d is None:  # module outside the scan: treat as clean (external)
            return False
        if ALL in d:
            return True
        if unit is None:  # whole-module dependency
            return bool(d)
        if unit in d:
            return True
        info = head.get(mod)
        if info is not None and info.parsed and unit not in info.units \
                and unit not in info.bindings:
            # unresolvable attribute/name on this module -> conservative
            return bool(d)
        if info is not None and unit in info.bindings:
            tgt_mod, tgt_unit = info.bindings[unit]
            return is_dirty(tgt_mod, tgt_unit)
        return False

    # fixpoint propagation through name references
    while True:
        grew = False
        for mod, info in head.items():
            if not info.parsed:
                if ALL not in dirty[mod]:
                    dirty[mod].add(ALL)
                    grew = True
                continue
            if ALL in dirty[mod]:
                continue
            if any(is_dirty(s, None) for s in info.star_deps):
                dirty[mod].add(ALL)
                grew = True
                continue
            for unit in info.units:
                if unit in dirty[mod] or unit == TOPLEVEL:
                    continue
                hit = False
                for name in info.refs.get(unit, ()):
                    if name in info.bindings:
                        tgt_mod, tgt_unit = info.bindings[name]
                        if is_dirty(tgt_mod, tgt_unit):
                            hit = True
                            break
                    elif name in info.units and name in dirty[mod]:
                        hit = True
                        break
                if not hit:
                    for root, attr in info.attr_refs.get(unit, ()):
                        if root in info.bindings:
                            tgt_mod, tgt_unit = info.bindings[root]
                            if tgt_unit is None:  # import M as m; m.attr
                                if is_dirty(tgt_mod, attr):
                                    hit = True
                                    break
                            elif is_dirty(tgt_mod, tgt_unit):
                                hit = True
                                break
                if hit:
                    dirty[mod].add(unit)
                    grew = True
        if not grew:
            return dirty, seed


def oracle_entries(text: str) -> dict[str, str]:
    tail = text.split("def oracle_sql", 1)[-1]
    return {m.group(1): m.group(2) for m in _ORACLE.finditer(tail)}


def dirty_oracles(base: str) -> set[str]:
    old = _git("show", f"{base}:__spark_entry__.py")
    new = (REPO / "__spark_entry__.py").read_text()
    o_old, o_new = oracle_entries(old), oracle_entries(new)
    return {k for k, v in o_new.items() if o_old.get(k) != v}


def check(verbose: bool = False) -> list[str]:
    """Returns a list of violation strings (empty = pass).

    Policy (two tiers; the window only has 50 slots, so when an
    infrastructure edit ripples into more than 50 queries, someone must
    overflow — but never silently and never a directly-edited query):

    - tier 1 (own function edited, or oracle text changed): MUST sit inside
      the window — hard violation otherwise;
    - tier 2 (dirty only through the reference closure): may overflow past
      the window ONLY when every window slot is already occupied by a dirty
      query (a clean query squatting in the window while a dirty one
      overflows is a violation).  Overflowed tier-2 queries remain covered:
      tests/test_contract_tail.py oracle-checks every tail entry per pytest
      run, and this tool prints the overflow set so it is never invisible.
    """
    base = last_round_commit()
    if base is None:
        return []
    import __spark_entry__ as entrymod

    units, seed = dirty_units(base)
    oracles = dirty_oracles(base)
    qs = entrymod.queries()

    def is_dirty(fn) -> bool:
        d = units.get(fn.__module__, set())
        return ALL in d or fn.__name__ in d

    def is_tier1(name: str, fn) -> bool:
        s = seed.get(fn.__module__, set())
        return ALL in s or fn.__name__ in s or name in oracles

    names = list(qs)
    window_names = names[:WINDOW]
    window_all_dirty = all(is_dirty(qs[n]) for n in window_names)
    n_dirty = sum(1 for n in names if is_dirty(qs[n]))

    violations = []
    for pos, name in enumerate(names):
        if pos < WINDOW:
            continue
        fn = qs[name]
        dirty = is_dirty(fn)
        if not dirty and name not in oracles:
            continue
        if is_tier1(name, fn):
            violations.append(
                f"{name} at position {pos + 1} (> {WINDOW}): directly edited "
                f"(tier 1) since {base[:8]} — must be driver-checked")
        elif n_dirty <= WINDOW or not window_all_dirty:
            violations.append(
                f"{name} at position {pos + 1} (> {WINDOW}): unit "
                f"{fn.__module__}.{fn.__name__} dirty since {base[:8]} and "
                f"the window has room (dirty={n_dirty}, window all dirty="
                f"{window_all_dirty})")
        elif verbose:
            print(f"[window] overflow (tier 2, tail-suite covered): {name} "
                  f"at position {pos + 1} — window saturated with "
                  f"{n_dirty} dirty queries")
    if verbose and not violations:
        clean = sum(1 for n in window_names if not is_dirty(qs[n]))
        print(f"[window] {n_dirty} dirty queries; {clean} clean window "
              "slots left for the next rotation")
    return violations


def main() -> None:
    violations = check(verbose=True)
    for v in violations:
        print(f"[window] {v}")
    if violations:
        sys.exit(1)
    print(f"[window] ok: every changed query sits inside the first {WINDOW}")


if __name__ == "__main__":
    main()
