#!/usr/bin/env python3
"""Count code lines in Scala sources.

A code line is a non-blank line with at least one character outside
`//` line comments and (nested) `/* */` block comments. String and
character literals count as code, including every line of a
triple-quoted string, and comment markers inside them are not comments.

Usage: python3 scripts/code_lines.py <file-or-dir>...
Prints one count per argument (directories: every *.scala below it),
then a total when given more than one argument.
"""
import os
import sys


def code_lines(text):
    lines = set()
    line = 0
    depth = 0          # block-comment nesting (Scala comments nest)
    string = None      # None, '"' or '"""'
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string:
            if not c.isspace():
                lines.add(line)
            if string == '"' and c == "\\":
                i += 2
            elif text.startswith(string, i):
                i += len(string)
                if string == '"""':
                    while i < n and text[i] == '"':  # """a"""" ends late
                        i += 1
                string = None
            else:
                i += 1
            continue
        if text.startswith("//", i):
            end = text.find("\n", i)
            i = n if end < 0 else end
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            lines.add(line)
        if text.startswith('"""', i):
            string = '"""'
            i += 3
        elif c == '"':
            string = '"'
            i += 1
        elif c == "'":
            # character literal: 'x', '\n', 'A' (a lone quote is a
            # symbol or type-level tick and stays plain code)
            if text.startswith("\\u", i + 1):
                close = text.find("'", i + 1)
                i = close + 1 if close > 0 else i + 1
            elif i + 3 < n and text[i + 1] == "\\" and text[i + 3] == "'":
                i += 4
            elif i + 2 < n and text[i + 2] == "'" and text[i + 1] != "\n":
                i += 3
            else:
                i += 1
        else:
            i += 1
    return len(lines)


def count(path):
    if os.path.isfile(path):
        with open(path, encoding="utf-8") as f:
            return code_lines(f.read())
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".scala"):
                total += count(os.path.join(root, name))
    return total


def main(paths):
    if not paths:
        sys.exit(__doc__)
    counts = [(p, count(p)) for p in paths]
    for p, k in counts:
        print(f"{k:>8,}  {p}")
    if len(counts) > 1:
        print(f"{sum(k for _, k in counts):>8,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
