"""Which driver queries need re-certifying, decided from their content.

A query's fingerprint hashes the syntax tree of each package definition
it reaches: its registration (the ``@query`` function or the
``QUERIES["x"] = ...`` statement), its oracle (``ORACLES["x"] = ...``)
and, transitively, the module globals, imported names, ``mod.attr`` and
named package modules (``"xorfilter_net_spark.sketches.kll"``, taken as
the whole module) those use. Docstrings, comments and line numbers do not
count. Nothing is imported, so an old tree taken with ``git archive``
fingerprints the same way as the working tree.

``tools/certified.json`` maps each query the driver certified to
``{"round": N, "fingerprint": ...}``; a query is certified while its
fingerprint equals its entry's. After a driver round, record it with::

    python -m xorfilter_net_spark.certify stamp CORRECTNESS_rN.json --at <commit>
"""

from __future__ import annotations

import argparse
import ast
import glob
import hashlib
import io
import json
import os
import re
import subprocess
import tarfile
import tempfile

from .commit import publish

PKG = "xorfilter_net_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join("tools", "certified.json")
COSTS = os.path.join("tools", "query_costs.json")  # measured sf0.01 walls
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def load_json(path: str) -> dict:
    """The JSON object in ``path``; any failure raises naming the file."""
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError) as exc:
        raise ValueError(f"{path}: {exc}") from exc
    if not isinstance(data, dict):
        raise ValueError(f"{path}: expected a JSON object")
    return data


def load_ledger(root: str = ROOT) -> dict[str, dict]:
    path = os.path.join(root, LEDGER)
    ledger = load_json(path)
    for q, e in ledger.items():
        if not isinstance(e, dict) or not (
            isinstance(e.get("round"), int) and isinstance(e.get("fingerprint"), str)
        ):
            raise ValueError(f"{path}: malformed entry {q!r}: {e!r}")
    return ledger


def _is_docstring(s: ast.AST) -> bool:
    return isinstance(s, ast.Expr) and isinstance(getattr(s.value, "value", None), str)


def _dump(node) -> str:
    """``ast.dump`` without docstrings and empty fields (so a field a newer
    Python adds does not change a hash)."""
    if isinstance(node, list):
        return "[" + ",".join(map(_dump, node)) + "]"
    if not isinstance(node, ast.AST):
        return repr(node)
    fields = dict(ast.iter_fields(node))
    if isinstance(node, _DEFS) and node.body and _is_docstring(node.body[0]):
        fields["body"] = node.body[1:]
    inner = (f"{k}={_dump(v)}" for k, v in fields.items() if v not in (None, []))
    return f"{type(node).__name__}({','.join(inner)})"


def _registered(node: ast.AST) -> set[str]:
    """Query names that ``node`` registers or gives an oracle."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store):
            if getattr(n.value, "id", None) in ("QUERIES", "ORACLES"):
                out.add(getattr(n.slice, "value", None))
        elif isinstance(n, ast.Call) and getattr(n.func, "id", None) == "query":
            out.add(getattr(n.args[0], "value", None) if n.args else None)
    return out - {None}


class Tree:
    """The package source under ``root`` as nodes (module-scope statements,
    keyed ``(module, name)``) and the edges between them."""

    def __init__(self, root: str):
        self.modules: dict[str, str] = {}  # module -> file
        self.packages: set[str] = set()
        self.nodes: dict[tuple, ast.AST] = {}
        self.members: dict[str, list] = {}  # module -> its node keys
        self.names: dict[tuple, list] = {}  # (module, global) -> node keys
        self.imports: dict[str, dict] = {}  # module -> name -> binding
        self.queries: dict[str, list] = {}  # query -> seed node keys
        self._edges: dict[tuple, list] = {}
        self._digests: dict[tuple, str] = {}
        pattern = os.path.join(root, PKG, "**", "*.py")
        for path in sorted(glob.glob(pattern, recursive=True)):
            mod = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
                self.packages.add(mod)
            self.modules[mod] = path
        for mod, path in self.modules.items():
            with open(path) as f:
                self._index(mod, ast.parse(f.read(), path))

    def _index(self, mod: str, tree: ast.Module) -> None:
        self.imports[mod], self.members[mod] = {}, []
        for i, s in enumerate(tree.body):
            if isinstance(s, (ast.Import, ast.ImportFrom)):
                self.imports[mod].update(self._bindings(mod, s))
                continue
            if i == 0 and _is_docstring(s):
                continue
            targets = getattr(s, "targets", None) or [getattr(s, "target", None)]
            names = [s.name] if isinstance(s, _DEFS) else [
                n.id
                for t in targets
                for n in ast.walk(t or ast.Pass())
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            ]
            # ``QUERIES["x"] = ...`` is its own node, not part of ``QUERIES``
            t = targets[0]
            key = (mod, names[0] if names else ast.unparse(t) if t else f"#{i}")
            if key in self.nodes:
                key = (mod, f"{key[1]}#{i}")
            self.nodes[key] = s
            self.members[mod].append(key)
            for n in names:
                self.names.setdefault((mod, n), []).append(key)
            if mod == PKG + ".entrypoints":
                for q in _registered(s):
                    self.queries.setdefault(q, []).append(key)

    def _bindings(self, mod: str, s: ast.stmt) -> dict:
        """name -> ("mod", module) | ("sym", module, name) for each
        package import in ``s``."""
        if isinstance(s, ast.Import):
            # a bare ``import a.b`` binds ``a``: take it as a use of all of a.b
            return {
                a.asname or a.name.split(".")[0]: ("mod", a.name)
                for a in s.names
                if a.name in self.modules
            }
        src = s.module or ""
        if s.level:
            base = mod.split(".")[: None if mod in self.packages else -1]
            src = ".".join(base[: len(base) - s.level + 1] + [src]).rstrip(".")
        if src not in self.modules:
            return {}
        return {
            a.asname or a.name: ("mod", f"{src}.{a.name}")
            if f"{src}.{a.name}" in self.modules
            else ("sym", src, a.name)
            for a in s.names
        }

    def _binding(self, b: tuple, seen=()) -> list:
        """Node keys of binding ``b``, following re-exports."""
        if b[0] == "mod":
            return self.members[b[1]]
        mod, name = b[1], b[2]
        if (mod, name) in self.names:
            return self.names[(mod, name)]
        b = self.imports[mod].get(name)
        if b is None or (mod, name) in seen:
            return self.members.get(f"{mod}.{name}", [])
        return self._binding(b, seen + ((mod, name),))

    def edges(self, key: tuple) -> list:
        if key in self._edges:
            return self._edges[key]
        mod, local, out, bases = key[0], {}, [], set()
        refs = list(ast.walk(self.nodes[key]))
        for n in refs:
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                local.update(self._bindings(mod, n))
        for n in refs:  # breadth first: an Attribute comes before its base
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                b = local.get(n.value.id) or self.imports[mod].get(n.value.id)
                if b and b[0] == "mod":
                    out += self._binding(("sym", b[1], n.attr))
                    bases.add(n.value)
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                if n not in bases:
                    out += self._binding(local.get(n.id) or ("sym", mod, n.id))
            elif isinstance(n, ast.Constant) and n.value in self.modules:
                out += self.members[n.value]
        self._edges[key] = out
        return out

    def fingerprint(self, query: str) -> str:
        seen, todo = set(), list(self.queries[query])
        while todo:
            k = todo.pop()
            if k not in seen:
                seen.add(k)
                todo.extend(self.edges(k))
        for k in seen - self._digests.keys():
            dump = _dump(self.nodes[k]).encode()
            self._digests[k] = hashlib.sha256(dump).hexdigest()
        lines = sorted(f"{m}:{n}:{self._digests[(m, n)]}" for m, n in seen)
        return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def fingerprints(root: str = ROOT) -> dict[str, str]:
    """Fingerprint of every query registered in the tree under ``root``."""
    tree = Tree(root)
    return {q: tree.fingerprint(q) for q in sorted(tree.queries)}


def certified(root: str = ROOT) -> dict[str, int]:
    """Query -> round, for each query whose ledger fingerprint is current."""
    now = fingerprints(root)
    ledger = load_ledger(root)
    return {q: e["round"] for q, e in ledger.items() if now.get(q) == e["fingerprint"]}


def stamp(correctness: str, at: str, root: str = ROOT) -> dict[str, dict]:
    """Record driver round N from ``correctness`` (``CORRECTNESS_rN.json``),
    which ran the code of commit ``at``: each green query gets round N and
    its fingerprint at ``at``, each red one leaves the ledger, and names
    no longer registered are dropped."""
    m = re.search(r"_r(\d+)\.json$", correctness)
    if not m:
        raise ValueError(f"{correctness}: name must end in _r<N>.json")
    rows = load_json(correctness)
    tar = subprocess.run(
        ["git", "-C", root, "archive", at, PKG], check=True, capture_output=True
    ).stdout
    with tempfile.TemporaryDirectory() as tmp:
        tarfile.open(fileobj=io.BytesIO(tar)).extractall(tmp, filter="data")
        then = fingerprints(tmp)
    ledger = load_ledger(root)
    for q, row in rows.items():
        if not isinstance(row, dict):
            raise ValueError(f"{correctness}: row {q!r} is not an object")
        ledger.pop(q, None)
        green = (
            row.get("hash_match") is True
            and not row.get("err")
            and False not in (row.get("rows_match"), row.get("schema_match"))
        )
        if green and q in then:
            ledger[q] = {"round": int(m.group(1)), "fingerprint": then[q]}
    now = Tree(root).queries
    ledger = {q: ledger[q] for q in sorted(ledger) if q in now}
    publish(os.path.join(root, LEDGER), json.dumps(ledger, indent=1) + "\n")
    return ledger


if __name__ == "__main__":
    cli = argparse.ArgumentParser(prog=f"python -m {PKG}.certify")
    cli.add_argument("command", choices=["stamp"])
    cli.add_argument("correctness", help="CORRECTNESS_rN.json of the round")
    cli.add_argument("--at", required=True, help="the commit the round ran")
    args = cli.parse_args()
    print(f"{LEDGER}: {len(stamp(args.correctness, args.at))} certified queries")
