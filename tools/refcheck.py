#!/usr/bin/env python3
"""Name-reference check: list every name defined in src/main that nothing
references.

A name is a `def`, `val`, `var`, `class`, `object`, `trait` or `type`
defined in a Scala file under src/main (overrides and `main` are skipped:
the framework or the JVM calls them). It counts as referenced when it
appears as a word, outside comments, anywhere in src/main or perfbench/src
more often than it is defined. Of a string literal only the interpolated
code (`$name`, `${...}`) and dotted names (Spark loads classes by name)
count, so a word in a message is not a reference.

Usage: python3 tools/refcheck.py [repo_root]
Prints one unreferenced name per line, with the file that defines it
(tab-separated), sorted by name. Exit status is 0 either way.
"""
import os
import re
import sys
from collections import Counter

DEF_RE = re.compile(r"\b(override\s+(?:(?:protected|private|final|lazy)\s+)*)?"
                    r"(def|val|var|class|object|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CODE_IN_STRING_RE = re.compile(r"\$\{[^}]*\}|\$[A-Za-z_][A-Za-z0-9_]*|\b[a-z][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)+")


def string_code(lit):
    """The parts of a string literal that name code."""
    return " ".join(CODE_IN_STRING_RE.findall(lit))


def code_words_only(src):
    """Drop // and (nested) /* */ comments, and of each string literal all
    but the code it names."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # a closing run longer than three
                j += 1
            out.append(f'"{string_code(src[i:j])}"' + "\n" * src.count("\n", i, j))
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(f'"{string_code(src[i:j + 1])}"')
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))  # keep line numbers
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root, sub):
    for dirpath, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    words = Counter()
    defs = {}  # name -> (defining file, count of definitions)
    for sub in ("src/main", "perfbench/src"):
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as fh:
                code = code_words_only(fh.read())
            words.update(WORD_RE.findall(code))
            if sub != "src/main":
                continue
            for m in DEF_RE.finditer(code):
                override, name = m.group(1), m.group(3)
                if override or name == "main":
                    continue
                where, k = defs.get(name, (os.path.relpath(path, root), 0))
                defs[name] = (where, k + 1)
    for name in sorted(defs):
        where, k = defs[name]
        if words[name] <= k:
            print(f"{name}\t{where}")


if __name__ == "__main__":
    main()
