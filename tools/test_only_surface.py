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

Last it lists every parameter with a default value, on a public or
private[graft] def in those same files, that no call under src/main/scala or
perfbench/src sets: a knob every program call leaves at its default. A call
is any `name(` outside the def's own declaration; it sets a parameter when it
passes it by name (`param = ...`) or passes enough positional arguments in
that parameter list to reach it. Calls, too, are matched by name, so a
positional use of the parameter's slot by a call to any same-named def hides
the parameter from this list.

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


def split_top(text):
    """Split `text` at the commas outside brackets and string literals."""
    parts, depth, cur, i = [], 0, [], 0
    while i < len(text):
        ch = text[i]
        if ch == '"':
            j = text.find('"""', i + 3) + 3 if text.startswith('"""', i) else i + 1
            if j == i + 1:
                while j < len(text) and text[j] != '"':
                    j += 2 if text[j] == "\\" else 1
                j += 1
            cur.append(text[i:j])
            i = j
            continue
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def group(code, i, open_ch, close_ch):
    """(inner text, end index) of the bracket group opening at code[i]."""
    depth, j = 0, i
    while j < len(code):
        ch = code[j]
        if ch == '"':
            if code.startswith('"""', j):
                j = code.find('"""', j + 3) + 3
            else:
                j += 1
                while j < len(code) and code[j] != '"':
                    j += 2 if code[j] == "\\" else 1
                j += 1
            continue
        if ch == open_ch:
            depth += 1
        elif ch == close_ch:
            depth -= 1
            if depth == 0:
                return code[i + 1:j], j + 1
        j += 1
    return code[i + 1:], len(code)


def arg_lists(code, i):
    """The bracketed argument (or parameter) lists that follow code[i:], after
    an optional type-argument list: a list of inner texts."""
    j = i
    while j < len(code) and code[j] in " \t":
        j += 1
    if code.startswith("[", j):
        _, j = group(code, j, "[", "]")
    lists = []
    while True:
        k = j
        while k < len(code) and code[k] in " \t\n":
            k += 1
        if not code.startswith("(", k):
            return lists
        inner, j = group(code, k, "(", ")")
        lists.append(inner)


NAMED = re.compile(r"^\s*(\w+)\s*=(?!=)")


def report_defaults(repo, program, bench):
    """Default-valued parameters that no program call sets (see the docstring)."""
    calls = {}
    for code in list(program.values()) + list(bench.values()):
        for m in re.finditer(r"(?<![\w$])(\w+)\s*(?=[\[(])", code):
            if re.search(r"\bdef\s+$", code[max(0, m.start() - 8):m.start()]):
                continue
            calls.setdefault(m.group(1), []).append((code, m.end()))
    found = 0
    for path, code in sorted(program.items()):
        if re.search(r"\bdef\s+main\s*\(", code):
            continue
        for m in DECL.finditer(code):
            mods, kind, name = m.group(1) or "", m.group(2), m.group(3)
            if kind != "def" or "override" in mods or ("private" in mods or "protected" in mods) \
                    and "private[graft]" not in mods:
                continue
            for li, params in enumerate(arg_lists(code, m.end())):
                if params.lstrip().startswith("implicit"):
                    break
                for pi, p in enumerate(split_top(params)):
                    pm = re.match(r"\s*(\w+)\s*:(?:[^=]|=>)*=(?!>)(.*)$", p, re.S)
                    if not pm:
                        continue
                    pname = pm.group(1)
                    set_by_call = False
                    for ccode, at in calls.get(name, []):
                        args = arg_lists(ccode, at)
                        if len(args) > li:
                            parts = split_top(args[li])
                            pos = [a for a in parts if not NAMED.match(a)]
                            named = {NAMED.match(a).group(1) for a in parts if NAMED.match(a)}
                            if pname in named or len(pos) > pi:
                                set_by_call = True
                                break
                    if not set_by_call:
                        found += 1
                        print("%s:%d  def %s(%s = %s)" % (
                            os.path.relpath(path, repo), code.count("\n", 0, m.start()) + 1,
                            name, pname, " ".join(pm.group(2).split())))
    print("%d default parameters no program call sets" % found)


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
    report_defaults(repo, program, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
