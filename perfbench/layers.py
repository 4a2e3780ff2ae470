"""Query -> layer attribution for the traced run.

A batch query belongs to the first `graft` module whose public function
its builder in Queries.scala calls, following calls into other
Queries.scala helpers in order. Builders that only hold inline DataFrame
code count as `operators`. run.py prints the table for the workload's
queries and charges each traced query to its layer.
"""
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = ["operators", "text", "dedup", "similarity", "graph", "ranking",
          "pipeline", "multimodal"]


def module_objects():
    """object name -> graft package, for the layer packages."""
    objs = {}
    for pkg in LAYERS:
        for f in glob.glob(os.path.join(ROOT, "src/main/scala/graft", pkg, "*.scala")):
            for name in re.findall(r"^object (\w+)", open(f).read(), re.M):
                objs[name] = pkg
    return objs


def bodies():
    src = open(os.path.join(ROOT, "src/main/scala/graft/Queries.scala")).read()
    defs = list(re.finditer(r"\n  (?:private(?:\[\w+\])? )?(?:val|def|lazy val) (\w+)", src))
    return {m.group(1): src[m.start():defs[i + 1].start() if i + 1 < len(defs) else len(src)]
            for i, m in enumerate(defs)}


def attribute(names):
    objs, defs = module_objects(), bodies()
    call = re.compile(r"\b(?:graft\.(\w+)\.)?(\w+)\.(\w+)\b|\b(\w+)\(")

    def first(name, seen):
        for m in call.finditer(defs.get(name, "")):
            pkg, obj, helper = m.group(1), m.group(2), m.group(4)
            if obj in objs and (pkg is None or pkg == objs[obj]):
                return objs[obj]
            if helper and helper != name and helper in defs and helper not in seen:
                seen.add(helper)
                got = first(helper, seen)
                if got:
                    return got
        return None
    return {n: first(n, {n}) or "operators" for n in names}

