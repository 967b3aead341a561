#!/usr/bin/env python3
"""Count Scala source files, raw lines and code lines under a directory.

A code line is a line with at least one character outside comments:
blank lines and lines holding only `//` or (nested) `/* */` comments do
not count; lines inside string literals, triple-quoted SQL included, do.

    python3 scripts/code_lines.py src/main
    # prints: <files> <raw lines> <code lines>
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


def main(root):
    files = raw = code = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith('.scala'):
                with open(os.path.join(d, name), encoding='utf-8') as f:
                    src = f.read()
                files, raw, code = files + 1, raw + src.count('\n'), code + code_lines(src)
    print(files, raw, code)


if __name__ == '__main__':
    main(sys.argv[1] if len(sys.argv) > 1 else 'src/main')
