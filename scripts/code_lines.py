#!/usr/bin/env python3
"""Count Scala source files, raw lines and code lines in files or directories.

A code line is a line with at least one character outside comments:
blank lines and lines holding only `//` or (nested) `/* */` comments do
not count; lines inside string literals, triple-quoted SQL included, do.

    python3 scripts/code_lines.py src/main
    # prints: <files> <raw lines> <code lines>
    python3 scripts/code_lines.py src/main/scala/graft/api/ManifestIO.scala src/test
    # prints one such line per path, followed by the path, then a total line

A path that does not exist is an error (exit status 1).
"""
import os
import sys


def code_lines(src):
    count, i, n = 0, 0, len(src)
    has_code = False
    state, depth = None, 0  # None | 'block' | 'str' | 'tstr'
    while i < n:
        c = src[i]
        if c == '\n':
            count += has_code
            has_code = False
            i += 1
        elif state == 'block':
            if src.startswith('/*', i):
                depth, i = depth + 1, i + 2
            elif src.startswith('*/', i):
                depth, i = depth - 1, i + 2
                state = 'block' if depth else None
            else:
                i += 1
        elif state == 'tstr':
            has_code = True
            if src.startswith('"""', i):
                while i < n and src[i] == '"':
                    i += 1
                state = None
            else:
                i += 1
        elif state == 'str':
            has_code = True
            if c == '\\':
                i += 2
            else:
                state = None if c == '"' else 'str'
                i += 1
        elif c in ' \t\r':
            i += 1
        elif src.startswith('//', i):
            while i < n and src[i] != '\n':
                i += 1
        elif src.startswith('/*', i):
            state, depth, i = 'block', 1, i + 2
        else:
            has_code = True
            if src.startswith('"""', i):
                state, i = 'tstr', i + 3
            elif c == '"':
                state, i = 'str', i + 1
            elif c == "'" and i + 2 < n and src[i + 1] != '\\' and src[i + 2] == "'":
                i += 3  # a char literal such as '"'
            elif c == "'" and i + 1 < n and src[i + 1] == '\\':
                end = src.find("'", i + 2)
                i = end + 1 if 0 < end - i <= 8 else i + 1
            else:
                i += 1
    return count + has_code


def count(path):
    """(files, raw lines, code lines) of one .scala file or a directory tree."""
    if os.path.isfile(path):
        paths = [path] if path.endswith('.scala') else []
    else:
        paths = [os.path.join(d, name) for d, _, names in os.walk(path)
                 for name in names if name.endswith('.scala')]
    files = raw = code = 0
    for f in paths:
        with open(f, encoding='utf-8') as fh:
            src = fh.read()
        files, raw, code = files + 1, raw + src.count('\n'), code + code_lines(src)
    return files, raw, code


def main(paths):
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        sys.exit(f"code_lines.py: no such file or directory: {', '.join(missing)}")
    counts = [count(p) for p in paths]
    if len(paths) == 1:
        print(*counts[0])
        return
    for p, c in zip(paths, counts):
        print(*c, p)
    print(*(sum(c[i] for c in counts) for i in range(3)), 'total')


if __name__ == '__main__':
    main(sys.argv[1:] or ['src/main'])
