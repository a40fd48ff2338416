"""Verification-staleness report and the generator of the registry's
PRIORITY order.

The correctness gate checks only the first 50 registry entries per
round (CORRECTNESS_r{N}.json), so the order of ``queries.PRIORITY`` decides
what it re-checks.  The order is:

  1. queries the gate never verified (no row with matching rows and hash);
  2. queries touched since the last gate;
  3. the oldest last-verified round first, a red row before a green one;
  4. name.

A query is *touched* when its registered ``def`` differs from the
same-named ``def`` anywhere under ``nonconsumptive_spark/queries/`` at
the gate commit.  The comparison is the ``ast.dump`` of the body and of
the registering decorator's name and oracle arguments (not its ``doc``),
plus the definitions of every module-level helper or constant those
reach (resolved through imports between query modules), so moving a
query, or its helpers, between modules is not a change.  The registry
plumbing in ``queries/__init__.py`` (``load``, ``register``) is shared
by every query and is not followed.  Operator modules that a query
reaches through an import alias (``ts.dsir_weights`` ->
operators/textstats.py) count at file level: the query is touched when
such a file differs from the gate commit.

Usage:  python tools/stale_report.py [--since REV] [--window N] [--write]
        (default REV: the commit that added the newest CORRECTNESS_r*.json;
         --write rewrites PRIORITY in nonconsumptive_spark/queries/__init__.py)
"""

from __future__ import annotations

import argparse
import ast
import copy
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PKG = "nonconsumptive_spark.queries"
QUERIES_DIR = "nonconsumptive_spark/queries"
INIT = REPO / QUERIES_DIR / "__init__.py"
BEGIN = "    # BEGIN stale_report --write"
END = "    # END stale_report --write"


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, capture_output=True,
                          text=True).stdout


def correctness_history() -> tuple[dict[str, tuple[int, bool]], set[str]]:
    """query -> (latest round with a gate row, green?), and the set of
    queries with a matching (rows and hash) row in any round."""
    latest: dict[str, tuple[int, bool]] = {}
    verified: set[str] = set()
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f.name).group(1))
        for name, row in json.loads(f.read_text()).items():
            green = bool(row.get("rows_match") and row.get("schema_match")
                         and row.get("hash_match", True) and not row.get("err"))
            latest[name] = (rnd, green)
            if row.get("rows_match") and row.get("hash_match"):
                verified.add(name)
    return latest, verified


def newest_correctness_commit() -> str:
    files = sorted(REPO.glob("CORRECTNESS_r*.json"))
    if not files:
        # before the first driver gate: everything counts as touched
        # since the repo root, and every query reports NEVER-verified
        out = _git("rev-list", "--max-parents=0", "HEAD").strip()
        return out.splitlines()[0] if out else "HEAD"
    out = _git("log", "--diff-filter=A", "--format=%H", "--",
               files[-1].name).strip()
    return out.splitlines()[0] if out else "HEAD~1"


def touched_files(since: str) -> set[str]:
    """Files that differ between ``since`` and the working tree."""
    return {line.strip() for line in
            _git("diff", "--name-only", since).splitlines() if line.strip()}


def query_sources(rev: str | None = None) -> dict[str, str]:
    """Query-module stem -> source, at ``rev`` or in the working tree."""
    if rev is None:
        return {p.stem: p.read_text()
                for p in sorted((REPO / QUERIES_DIR).glob("*.py"))}
    names = _git("ls-tree", "--name-only", rev, f"{QUERIES_DIR}/").split()
    return {Path(n).stem: _git("show", f"{rev}:{n}")
            for n in names if n.endswith(".py")}


def _pkg_module(node: ast.ImportFrom) -> str | None:
    """Stem of the query module an import reads from, or None."""
    mod = node.module or ""
    if node.level or not (mod == PKG or mod.startswith(PKG + ".")):
        return None
    return mod[len(PKG) + 1:] or "__init__"


class _DropPkgImports(ast.NodeTransformer):
    """Imports between query modules name where a helper lives, not what
    it is; the helper itself is compared where it resolves."""

    def visit_ImportFrom(self, node):
        return None if _pkg_module(node) else node


def _dump(node: ast.AST) -> str:
    return ast.dump(_DropPkgImports().visit(copy.deepcopy(node)))


def query_signatures(sources: dict[str, str]) -> dict[str, str]:
    """Query name -> the text its touched-ness is judged on (see the
    module docstring), over ``{module stem: source}``."""
    defs: dict[str, dict[str, list[ast.AST]]] = {}
    imports: dict[str, dict[str, tuple[str, str]]] = {}
    registered: dict[str, tuple[str, ast.FunctionDef, ast.Call]] = {}
    for mod, src in sources.items():
        d, imp = defs.setdefault(mod, {}), imports.setdefault(mod, {})
        for node in ast.parse(src).body:
            if isinstance(node, ast.ImportFrom) and _pkg_module(node):
                for a in node.names:
                    imp[a.asname or a.name] = (_pkg_module(node), a.name)
            elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                d.setdefault(node.name, []).append(node)
                for dec in node.decorator_list:
                    if (isinstance(dec, ast.Call) and dec.args
                            and isinstance(dec.args[0], ast.Constant)
                            and isinstance(dec.func, ast.Name)
                            and dec.func.id in ("register", "_stage")):
                        registered[dec.args[0].value] = (mod, node, dec)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            d.setdefault(n.id, []).append(node)

    def resolve(mod, name, out, seen):
        if (mod, name) in seen:
            return
        seen.add((mod, name))
        if name in imports.get(mod, {}):
            resolve(*imports[mod][name], out, seen)
            return
        nodes = defs.get(mod, {}).get(name, [])
        if mod == "__init__" and any(isinstance(n, ast.FunctionDef)
                                     for n in nodes):
            return  # registry plumbing (load, register)
        for n in nodes:
            out.add(f"{name} = {_dump(n)}")
            reach(mod, [n], out, seen)

    def reach(mod, nodes, out, seen):
        for node in nodes:
            local = {}
            for n in ast.walk(node):
                if isinstance(n, ast.ImportFrom) and _pkg_module(n):
                    for a in n.names:
                        local[a.asname or a.name] = (_pkg_module(n), a.name)
            for n in ast.walk(node):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                    if n.id in local:
                        resolve(*local[n.id], out, seen)
                    else:
                        resolve(mod, n.id, out, seen)

    sigs = {}
    for name, (mod, fn, dec) in registered.items():
        args = dec.args[:2] + [k.value for k in dec.keywords
                               if k.arg == "oracle"]
        body = ast.Module(body=fn.body, type_ignores=[])
        reached: set[str] = set()
        reach(mod, args + [body], reached, set())
        sigs[name] = "\n".join([_dump(a) for a in args] + [_dump(body)]
                               + sorted(reached))
    return sigs


def touched_defs(old: dict[str, str], new: dict[str, str]) -> set[str]:
    """Registered queries whose signature differs between two
    ``{module stem: source}`` snapshots (a query absent from ``old`` is
    touched)."""
    before, after = query_signatures(old), query_signatures(new)
    return {n for n, sig in after.items() if before.get(n) != sig}


def registered() -> dict:
    """Every registered query, whatever PRIORITY currently lists."""
    from nonconsumptive_spark.queries import REGISTRY, all_queries

    all_queries()  # imports every query module
    return REGISTRY


def operator_files() -> dict[str, set[str]]:
    """query -> repo-relative operator files its function reaches through
    module-level import aliases (``alias.attr`` in its source)."""
    import inspect

    def global_names(code) -> set[str]:
        names = set(code.co_names)
        for c in code.co_consts:
            if inspect.iscode(c):
                names |= global_names(c)
        return names

    deps: dict[str, set[str]] = {}
    for name, q in registered().items():
        fn = q.spark_fn
        mod = sys.modules[fn.__module__]
        globs = global_names(fn.__code__) - set(fn.__code__.co_varnames)
        files: set[str] = set()
        for alias in set(re.findall(r"\b([A-Za-z_][A-Za-z0-9_]*)\.",
                                    inspect.getsource(fn))) & globs:
            target = getattr(mod, alias, None)
            if target is None:
                continue
            if not inspect.ismodule(target):
                target = sys.modules.get(getattr(target, "__module__", ""))
            tfile = getattr(target, "__file__", None)
            if not tfile:
                continue
            rel = Path(tfile).resolve()
            if REPO in rel.parents:
                rel = str(rel.relative_to(REPO))
                if not rel.startswith(QUERIES_DIR):
                    files.add(rel)
        deps[name] = files
    return deps


def touched_queries(since: str) -> dict[str, list[str]]:
    """query -> why it is touched since ``since`` (``def`` and/or operator
    files); untouched queries are absent."""
    changed = touched_files(since)
    defs = touched_defs(query_sources(since), query_sources())
    reasons: dict[str, list[str]] = {}
    for name, files in operator_files().items():
        why = (["def"] if name in defs else []) + sorted(files & changed)
        if why:
            reasons[name] = why
    return reasons


def priority_order(since: str) -> tuple[list[str], dict[str, list[str]]]:
    latest, verified = correctness_history()
    touched = touched_queries(since)

    def key(name):
        rnd, green = latest.get(name, (0, False))
        return (name in verified, name not in touched, rnd, green, name)

    return sorted(registered(), key=key), touched


def write_priority(names: list[str]) -> None:
    src = INIT.read_text()
    head, rest = src.split(BEGIN + "\n", 1)
    _, tail = rest.split(END + "\n", 1)
    body = "".join(f'    "{n}",\n' for n in names)
    INIT.write_text(head + BEGIN + "\n" + body + END + "\n" + tail)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--since", default=None,
                    help="rev to diff against (default: last gate)")
    ap.add_argument("--window", type=int, default=50,
                    help="driver window size")
    ap.add_argument("--write", action="store_true",
                    help="rewrite PRIORITY in queries/__init__.py")
    args = ap.parse_args()

    since = args.since or newest_correctness_commit()
    order, touched = priority_order(since)
    latest, verified = correctness_history()

    print(f"# stale-risk report  (since {since[:12]}, "
          f"{len(touched)} queries touched)\n")
    print(f"{'query':34s} {'last_round':>10s} {'green':>5s}  touched by")
    for name in order[:args.window]:
        rnd, green = latest.get(name, (0, False))
        tag = "NEVER" if name not in verified else f"r{rnd}"
        print(f"{name:34s} {tag:>10s} {str(green):>5s}  "
              f"{', '.join(touched.get(name, [])) or '-'}")
    if args.write:
        write_priority(order)
        print(f"\nwrote {len(order)} names to {INIT.relative_to(REPO)}")


if __name__ == "__main__":
    main()
