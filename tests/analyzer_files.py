"""Source file sets the analyzer tests ingest, in one place so that
tests/test_ingest_paths.py can run every one of them through both
resolution paths (driver and Spark) and compare the graphs."""

from __future__ import annotations

# The golden mini-graph of FIXTURES.md §1 (tests/source_files/py/src.py of
# the reference), ingested by the `fixture_graph` fixture.
FIXTURE_PY = '''\
import logging

def log(msg: str) -> None:
    print(msg)

class Task:
    """A unit of work."""
    def __init__(self, name: str, prio: int):
        self.name = name
        self.prio = prio
        print(name)

    def abort(self, delay: float) -> Task:
        log("abort")
        return self
'''

CSHARP_SRC = """\
using System;

namespace TestProject
{
    public interface ILogger
    {
        void Log(string message);
    }

    public class ConsoleLogger : ILogger
    {
        public void Log(string message)
        {
            Console.WriteLine(message);
        }
    }

    /// <summary>
    /// Represents a task to be executed.
    /// </summary>
    public class Task
    {
        public string Name { get; set; }
        private ILogger _logger;

        public Task(string name, ILogger logger)
        {
            Name = name;
            _logger = logger;
            _logger.Log("Task created: " + name);
        }

        public bool Execute()
        {
            _logger.Log("Executing: " + Name);
            return true;
        }

        public void Abort(float delay)
        {
            _logger.Log("Aborting: " + Name);
            Execute();
        }
    }
}
"""

JAVA_SRC = """\
/** Greets people. */
public class Greeter extends Base implements Hello, Goodbye {
    private String name;

    /** ctor doc */
    public Greeter(String name) {
        this.name = name;
        register(name);
    }

    public String greet(int times) {
        register(name);
        return name;
    }
}

interface Hello extends Salutation {
    void sayHello(String who);
}

interface Goodbye {
    void sayGoodbye(String who);
}

class Base {
    public void register(String name) {
    }
}

enum Color { RED, GREEN }
"""

# tests/test_python_analyzer.py, one set per test, keyed by the test name
# less its `test_` prefix
PY_FILE_SETS: dict[str, dict[str, str]] = {
    "qualified_resolution_prefers_local_definition": {
        "pkg_a/helper.py": "def helper():\n    return 'a'\n",
        "pkg_a/caller.py": "def helper():\n    return 'local'\n\ndef use():\n    return helper()\n",
        "pkg_b/helper.py": "def helper():\n    return 'b'\n",
        "pkg_b/other.py": "def use_b():\n    return helper()\n",
    },
    "import_aware_resolution_follows_alias": {
        "pkg_a/util.py": "def calc():\n    return 'a'\n",
        "pkg_b/util.py": "def calc():\n    return 'b'\n",
        "app.py": (
            "from pkg_a.util import calc as c\n\n"
            "def run():\n    return c()\n"
        ),
    },
    "import_beats_same_package_candidate": {
        "pkg_a/util.py": "def calc():\n    return 'a'\n",
        "pkg_a/app.py": (
            "from pkg_b.util import calc\n\n"
            "def run():\n    return calc()\n"
        ),
        "pkg_b/util.py": "def calc():\n    return 'b'\n",
    },
    "relative_import_resolves_within_package": {
        "pkg/helpers.py": "def calc():\n    return 1\n",
        "pkg/a.py": "from .helpers import calc\n\ndef run():\n    return calc()\n",
        "other/helpers.py": "def calc():\n    return 2\n",
    },
    "class_import_resolves_extends": {
        "lib/base.py": "class Base:\n    pass\n",
        "app/models.py": (
            "from lib.base import Base\n\n"
            "class Model(Base):\n    pass\n"
        ),
        "app/base.py": "class Base:\n    pass\n",  # same-package decoy
    },
    "from_dot_import_module_receiver": {
        "pkg/sibling.py": "def calc():\n    return 1\n",
        "pkg/user.py": (
            "from . import sibling\n\n"
            "def run():\n    return sibling.calc()\n"
        ),
        "other/noise.py": "def calc():\n    return 2\n",
    },
    "from_dotdot_import_module_receiver": {
        "top.py": "def calc():\n    return 1\n",
        "pkg/inner.py": (
            "from .. import top\n\n"
            "def run():\n    return top.calc()\n"
        ),
        "pkg/top.py": "def calc():\n    return 2\n",  # same-package decoy
    },
    "init_reexport_chain": {
        "pkg/__init__.py": "from .a import helper\n",
        "pkg/a.py": "def helper():\n    return 1\n",
        "user.py": (
            "from pkg import helper\n\n"
            "def use():\n    return helper()\n"
        ),
        "decoy.py": "def helper():\n    return 2\n",
    },
    "from_dot_import_symbol_in_init": {
        "pkg/__init__.py": "def cfg():\n    return 1\n",
        "pkg/user.py": (
            "from . import cfg\n\n"
            "def run():\n    return cfg()\n"
        ),
        "elsewhere/cfg.py": "def cfg():\n    return 2\n",
    },
    "init_reexport_two_hops_with_rename": {
        "pkg/__init__.py": "from .sub import f as g\n",
        "pkg/sub/__init__.py": "from .impl import f\n",
        "pkg/sub/impl.py": "def f():\n    return 1\n",
        "user.py": (
            "from pkg import g\n\n"
            "def use():\n    return g()\n"
        ),
        "decoy.py": "def g():\n    return 2\n",
    },
    "init_reexport_four_hops_with_renames": {
        "pkg/__init__.py": "from .a import h as top\n",
        "pkg/a/__init__.py": "from .b import g as h\n",
        "pkg/a/b/__init__.py": "from .c import f as g\n",
        "pkg/a/b/c/__init__.py": "from .impl import f\n",
        "pkg/a/b/c/impl.py": "def f():\n    return 1\n",
        "user.py": (
            "from pkg import top\n\n"
            "def use():\n    return top()\n"
        ),
        "decoy.py": "def top():\n    return 2\n",
    },
    "sequential_rebinding_is_occurrence_sensitive": {
        "a.py": "def f():\n    return 1\n",
        "b.py": "def f():\n    return 2\n",
        "user.py": (
            "from a import f\n"
            "def early():\n    return f()\n"
            "from b import f\n"
            "def late():\n    return f()\n"
        ),
    },
    "conditional_reexport_facade_single_branch": {
        "pkg/__init__.py": (
            "try:\n"
            "    from ._fast import encode\n"
            "except ImportError:\n"
            "    from ._slow import encode\n"
        ),
        "pkg/_fast.py": "def encode():\n    return 1\n",
        "pkg/_slow.py": "def encode():\n    return 2\n",
        "user.py": (
            "from pkg import encode\n\n"
            "def run():\n    return encode()\n"
        ),
    },
    "conditional_import_at_use_site_no_duplicate_edges": {
        "fast.py": "def enc():\n    return 1\n",
        "slow.py": "def enc():\n    return 2\n",
        "user.py": (
            "try:\n"
            "    from fast import enc\n"
            "except ImportError:\n"
            "    from slow import enc\n"
            "def go():\n    return enc()\n"
        ),
    },
    "conditional_reexport_with_renames_and_use_site_alias": {
        "pkg/__init__.py": (
            "try:\n"
            "    from ._fast import fast_encode as encode\n"
            "except ImportError:\n"
            "    from ._slow import slow_encode as encode\n"
        ),
        "pkg/_fast.py": "def fast_encode():\n    return 1\n",
        "pkg/_slow.py": "def slow_encode():\n    return 2\n",
        "user.py": (
            "from pkg import encode as enc\n\n"
            "def run():\n    return enc()\n"
        ),
    },
    "import_module_as_alias_attribute_call": {
        "pkg/__init__.py": "",
        "pkg/mod.py": "def f():\n    return 1\n",
        "user.py": "import pkg.mod as m\n\ndef run():\n    return m.f()\n",
    },
    "star_import_resolves_to_origin_module": {
        "lib.py": "def g():\n    return 1\n",
        "user.py": "from lib import *\n\ndef go():\n    return g()\n",
    },
    "self_method_call_resolves_within_class": {
        "cls.py": (
            "class C:\n"
            "    def a(self):\n        return self.b()\n"
            "    def b(self):\n        return 2\n"
        ),
    },
    "nested_function_calls_and_containment_attribution": {
        "user.py": (
            "def outer():\n"
            "    def inner():\n"
            "        return leaf()\n"
            "    return inner()\n\n"
            "def leaf():\n    return 1\n"
        ),
    },
    "inherited_self_method_resolves_across_files": {
        "base.py": "class Base:\n    def hello(self):\n        return 1\n",
        "child.py": (
            "from base import Base\n\n"
            "class Child(Base):\n"
            "    def greet(self):\n"
            "        return self.hello()\n"
        ),
    },
    "instantiation_classmethod_comprehension_resolution": {
        "m.py": (
            "class C:\n"
            "    @classmethod\n"
            "    def make(cls):\n        return 1\n"
            "    def go(self):\n        return 2\n\n"
            "def f():\n    return 3\n\n"
            "def driver():\n"
            "    c = C()\n"
            "    a = C.make()\n"
            "    xs = [f() for _ in range(3)]\n"
            "    return c.go()\n"
        ),
    },
    "file_that_defines_nothing_gets_a_file_node": {
        "pkg/__init__.py": "",
        "pkg/mod.py": "def f():\n    return 1\n",
    },
}

# tests/test_cfamily_analyzer.py: the sets it ingests into graphs
CFAMILY_FILE_SETS: dict[str, dict[str, str]] = {
    "csharp": {"Program.cs": CSHARP_SRC},
    "java": {"Greeter.java": JAVA_SRC},
    "java_interface_extends": {"I.java": "interface B {}\ninterface A extends B {}\n"},
    "mixed_corpus": {
        "src.py": "def log(msg):\n    print(msg)\n",
        "Base.java": "class Base { public void register(String n) { } }",
    },
    "java_generics": {"Box.java": """\
import java.util.*;

class Box<T extends Number> {
    private T item;

    @SuppressWarnings({"unchecked"})
    public Map<String, List<Integer>> index(List<T> items) {
        return build(items);
    }

    public <R> R identity(R x) {
        return x;
    }
}

class Sub<T> extends Box<T> implements Comparable<T> {
    public int compareTo(Sub<T> other) {
        return 0;
    }
}
"""},
    "csharp_where": {"Pair.cs": """\
interface IFoo { }

class Pair<T, U> : IFoo where T : IFoo, U : IFoo
{
    public void Swap() { }
}
"""},
}
