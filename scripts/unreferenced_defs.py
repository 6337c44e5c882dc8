#!/usr/bin/env python3
"""List the `def`s, `class`es, `object`s and `trait`s of src/main that no
code reaches.

Usage: python3 scripts/unreferenced_defs.py [REPO_ROOT]

A declaration is reported when its name appears, as a whole word,
nowhere in the code of src/main or perfbench/src except in its own
declaration(s). Comments do not count as references (a name only a doc
comment cites is unreferenced); string literals do, because generated
code names the kernels it calls inside strings. Not reported: `override`
and `implicit` members and the names code never spells at a call site
(`main`, `apply`, `unapply`, `unapplySeq`, `update`).

The check goes by bare name and one level deep: a name that is also
declared elsewhere (perfbench has its own `Turn`) counts as used, and
code reached only from other unreferenced code shows up once that code
is gone.

A hit is printed as `pkg.Name` for a top-level declaration and as
`Top.name` for a member of the top-level template `Top`. Exits 1 when a
hit is not in ALLOWED below, or when an ALLOWED entry is stale (its
name is now referenced, or no longer declared), else 0: the allowlist
can only shrink along with the code. Each ALLOWED entry carries the
reason the declaration stays although no code reaches it.
"""
import collections
import os
import re
import sys

ALLOWED = {
    "graft.Verify": "sbt `runMain` main: the registry correctness dump",
    "SparkEntry.entry": "the SparkEntry contract's flagship query, called "
                        "by name from outside the repo (QueriesSmokeSpec "
                        "checks rows > 0)",
}

CODE_ROOTS = ["src/main", "perfbench/src"]
IMPLICIT_NAMES = {"main", "apply", "unapply", "unapplySeq", "update"}
DECL = re.compile(r"\b(def|class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MODIFIER = re.compile(r"\b(override|implicit)\b[\w\s\[\]().]*$")


def scala_files(root):
    for d in CODE_ROOTS:
        for base, _, names in os.walk(os.path.join(root, d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(base, n)


def blank(text):
    """Two same-length copies of `text`: `code` with comments blanked
    and `skeleton` with comments and string/char literals blanked.
    Newlines survive in both, so offsets and line numbers agree."""
    code, skel = list(text), list(text)
    i, n = 0, len(text)

    def wipe(a, b, into):
        for k in range(a, b):
            if text[k] != "\n":
                for buf in into:
                    buf[k] = " "

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j, (code, skel))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2  # Scala block comments nest
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            wipe(i, j, (code, skel))
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # `""""` ends on the last quote
                j += 1
            wipe(i, j, (skel,))
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            wipe(i, j + 1, (skel,))
            i = j + 1
        elif re.match(r"'(\\.[^']*|[^\\'\n])'", text[i:i + 9]):
            j = text.index("'", i + 2 if text[i + 1] != "\\" else i + 3)
            wipe(i, j + 1, (skel,))
            i = j + 1
        else:
            i += 1
    return "".join(code), "".join(skel)


def declarations(skel):
    """(qualified display name, bare name, line) of each declaration in
    a src/main file, skipping overrides, implicits and IMPLICIT_NAMES."""
    pkg = ".".join(re.findall(r"^\s*package\s+([\w.]+)\s*$", skel, re.M))
    depth, top, out = 0, None, []
    decls = {m.start(): m for m in DECL.finditer(skel)}
    for i, ch in enumerate(skel):
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        m = decls.get(i)
        if m is None:
            continue
        kind, name = m.group(1), m.group(2)
        line_start = skel.rfind("\n", 0, i) + 1
        if depth == 0 and kind != "def":
            top = name
        if name in IMPLICIT_NAMES or MODIFIER.search(skel[line_start:i]):
            continue
        shown = f"{pkg}.{name}" if depth == 0 else f"{top}.{name}"
        out.append((shown, name, skel.count("\n", 0, i) + 1))
    return out


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    code_by_file, decls = {}, []
    for path in scala_files(root):
        with open(path, encoding="utf-8") as f:
            code, skel = blank(f.read())
        code_by_file[path] = code
        if os.path.relpath(path, root).startswith("src/main" + os.sep):
            decls += [(path, *d) for d in declarations(skel)]
    words = collections.Counter(
        w for code in code_by_file.values() for w in WORD.findall(code))
    n_decls = collections.Counter(name for _, _, name, _ in decls)
    bad, unreferenced = 0, set()
    for path, shown, name, line in decls:
        if words[name] > n_decls[name]:
            continue
        unreferenced.add(shown)
        where = f"{os.path.relpath(path, root)}:{line}"
        if shown in ALLOWED:
            print(f"allowed  {shown}  ({where}): {ALLOWED[shown]}")
        else:
            print(f"UNREFERENCED  {shown}  ({where})")
            bad += 1
    declared = {shown for _, shown, _, _ in decls}
    stale = 0
    for shown in sorted(set(ALLOWED) - unreferenced):
        why = "now referenced" if shown in declared else "no longer declared"
        print(f"STALE ALLOWED  {shown}: {why}; drop it from ALLOWED")
        stale += 1
    print(f"{bad} unreferenced declaration(s) outside the allowlist, "
          f"{stale} stale allowlist entr{'y' if stale == 1 else 'ies'}")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
