"""List the program surface that only tests reach.

    python3 tools/test_only_surface.py [REPO]

Scans every .scala file under src/main/scala for objects and defs that are
public or private[graft] (overrides and private members are skipped, and so
is every file that defines a `main`: an entry point is not a surface). A
name is reported when it occurs under src/test but nowhere in the program:
in no other file under src/main/scala or perfbench/src, and not in its own
file outside its own definitions. Comments are ignored, so a scaladoc
mention is not a use.

The match is by name, not by symbol, so an overloaded or common name hides a
test-only member behind any other member of that name.

It then lists every "spark.graft.*" conf key that src/main/scala reads (a
string literal outside a `.set(`/`.config(` call) and where it is set: in a
`.set(`/`.config(` call in the program or perfbench/src, or as `KEY=` in a
file under perfbench/ or tools/. A key set only under src/test is a switch
nothing in the program turns.

It only reports: the exit status is always 0.
"""
import os
import re
import sys

DECL = re.compile(r"^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|lazy)\s+)*"
                  r"(def|object)\s+(\w+)", re.M)


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals and line numbers."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
        elif text[i] == '"':
            if text.startswith('"""', i):
                j = text.find('"""', i + 3)
                j = n if j < 0 else j + 3
            else:
                j = i + 1
                while j < n and text[j] not in '"\n':
                    j += 2 if text[j] == "\\" else 1
                j += 1
            out.append(text[i:j])
        else:
            j = i + 1
            out.append(text[i])
        i = j
    return "".join(out)


def read_all(root):
    code = {}
    for base, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                path = os.path.join(base, name)
                with open(path, encoding="utf-8") as f:
                    code[path] = strip_comments(f.read())
    return code


CONF_KEY = re.compile(r'"(spark\.graft\.[\w.]+)"')
CONF_SET = re.compile(r'\.(?:set|config)\(\s*$')


def conf_keys(code):
    """(key, is_set) for every "spark.graft.*" literal in comment-stripped code."""
    return [(m.group(1), bool(CONF_SET.search(code[max(0, m.start() - 40):m.start()])))
            for m in CONF_KEY.finditer(code)]


def report_confs(repo, program, bench, tests):
    read = sorted({k for c in program.values() for k, is_set in conf_keys(c) if not is_set})
    launch = {}
    for sub in ("perfbench", "tools"):
        for base, _, names in os.walk(os.path.join(repo, sub)):
            for name in sorted(names):
                if name.endswith((".py", ".sh", ".json", ".md")):
                    path = os.path.join(base, name)
                    with open(path, encoding="utf-8") as f:
                        launch[path] = f.read()
    for key in read:
        setters = sorted({os.path.relpath(p, repo) for p, c in list(program.items()) + list(bench.items())
                          if (key, True) in conf_keys(c)} |
                         {os.path.relpath(p, repo) for p, c in launch.items() if key + "=" in c})
        by_tests = sorted(os.path.basename(p) for p, c in tests.items() if (key, True) in conf_keys(c))
        print("%s  set outside src/test: %s  <- tests: %s" % (
            key, ", ".join(setters) or "nothing", ", ".join(by_tests) or "none"))
    print("%d spark.graft keys read" % len(read))


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    program = read_all(os.path.join(repo, "src", "main", "scala"))
    bench = read_all(os.path.join(repo, "perfbench", "src"))
    tests = read_all(os.path.join(repo, "src", "test"))

    found = 0
    for path, code in sorted(program.items()):
        if re.search(r"\bdef\s+main\s*\(", code):
            continue
        for m in DECL.finditer(code):
            mods, kind, name = m.group(1) or "", m.group(2), m.group(3)
            if "override" in mods or ("private" in mods or "protected" in mods) \
                    and "private[graft]" not in mods:
                continue
            word = re.compile(r"\b%s\b" % re.escape(name))
            own = len(re.findall(r"\b(?:def|object|class|trait|val|var)\s+%s\b" % re.escape(name), code))
            if len(word.findall(code)) > own or any(
                    word.search(c) for p, c in list(program.items()) + list(bench.items()) if p != path):
                continue
            callers = sorted(os.path.basename(p) for p, c in tests.items() if word.search(c))
            if callers:
                found += 1
                print("%s:%d  %s %s  <- %s" % (os.path.relpath(path, repo), code.count("\n", 0, m.start()) + 1,
                                               kind, name, ", ".join(callers)))
    print("%d test-only names" % found)
    report_confs(repo, program, bench, tests)
    return 0


if __name__ == "__main__":
    sys.exit(main())
