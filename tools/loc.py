#!/usr/bin/env python3
"""Count code lines per source file.

A code line is a line that is not blank, not a `//` line comment and not
wholly inside a `/* ... */` block comment (scaladoc included). A line that
holds code and a comment counts. String literals are not parsed, so a
`/*` or `//` inside a string is taken as a comment opener; the Scala
sources here hold none that matter.

Usage: python3 tools/loc.py PATH...
  PATH is a file or a directory (searched for *.scala).
  Prints "<code lines>\t<file>" per file, then the total.
"""
import argparse
import os
import sys

EXT = '.scala'


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        while line:
            if in_block:
                end = line.find('*/')
                if end < 0:
                    line = ''
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith('//'):
                line = ''
            elif line.startswith('/*'):
                in_block = True
                line = line[2:]
            else:
                code = True
                start = line.find('/*')
                line = line[start:] if start >= 0 else ''
        if code:
            n += 1
    return n


def files_under(path):
    if os.path.isfile(path):
        yield path
        return
    for root, _, names in os.walk(path):
        for name in sorted(names):
            if name.endswith(EXT):
                yield os.path.join(root, name)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument('paths', nargs='+')
    args = ap.parse_args()
    total = 0
    for p in args.paths:
        if not os.path.exists(p):
            sys.exit(f'loc.py: no such path: {p}')
        for f in sorted(files_under(p)):
            with open(f, encoding='utf-8') as fh:
                n = code_lines(fh.read())
            total += n
            print(f'{n}\t{f}')
    print(f'{total}\ttotal')


if __name__ == '__main__':
    main()
