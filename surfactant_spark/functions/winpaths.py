"""PE / .NET probe-key generation (pure, vectorizable).

Reimplements the probing *semantics* of the reference's Windows-family
relationship resolution as pure functions ``mention -> [(probe_dir,
fname)]`` so the engine can explode + equi-join instead of scanning.

Reference semantics pinned:
- PE imports probe the parent dir of each of the dependent's
  installPaths, case-insensitively
  (`surfactant/relationships/pe_relationship.py:69-80`,
  `_internal/windows_utils.py:18-39`).
- .NET assemblyRef probing dirs: appbase, appbase/name (neutral
  culture) or appbase/culture, appbase/name/culture, each also under
  appConfig privatePaths (`dotnet_relationship.py:213-243`).
- .NET ImplMap native-name combinations: name, name.dll (unless already
  .dll/.exe), name.so, name.dylib, libname.so, libname.dylib, libname
  (`dotnet_relationship.py:104-118`).
- codeBase href resolution relative to appbase
  (`dotnet_relationship.py:150-186`).

All probe keys are emitted through :func:`win_norm` so string equality
== PureWindowsPath equality (case-insensitive, separator-insensitive).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from .paths import win_is_absolute, win_join, win_norm, win_parent_posix


def pe_probe_keys(install_paths: Sequence[str], fname: str) -> List[str]:
    """Normalized full-path probe keys for one PE import
    (`pe_relationship.py:69-80`): parent dir of each installPath + fname."""
    return [win_norm(win_join(win_parent_posix(ip), fname)) for ip in install_paths or []]


def dotnet_implmap_name_combinations(ref_name: str) -> List[str]:
    """Native-library filename variants tried by the .NET runtime
    (`dotnet_relationship.py:104-118`)."""
    combos = [ref_name]
    if not (ref_name.endswith(".dll") or ref_name.endswith(".exe")):
        combos.append(f"{ref_name}.dll")
    combos.extend(
        [
            f"{ref_name}.so",
            f"{ref_name}.dylib",
            f"lib{ref_name}.so",
            f"lib{ref_name}.dylib",
            f"lib{ref_name}",
        ]
    )
    return combos


def dotnet_probedirs(
    install_paths: Sequence[str],
    ref_culture: Optional[str],
    ref_name: str,
    probing_paths: Optional[Sequence[str]] = None,
) -> List[str]:
    """Directories probed for a .NET assembly reference
    (`dotnet_relationship.py:213-243`), as posix-rendered Windows paths."""
    dirs: List[str] = []
    for install_filepath in install_paths or []:
        base = win_parent_posix(install_filepath)
        if ref_culture is None or ref_culture == "":
            dirs.append(win_join(base))
            dirs.append(win_join(base, ref_name))
            for p in probing_paths or []:
                dirs.append(win_join(base, p))
                dirs.append(win_join(base, p, ref_name))
        else:
            dirs.append(win_join(base, ref_culture))
            dirs.append(win_join(base, ref_name, ref_culture))
            for p in probing_paths or []:
                dirs.append(win_join(base, p, ref_culture))
                dirs.append(win_join(base, p, ref_name, ref_culture))
    return dirs


def dotnet_assemblyref_probe_keys(
    install_paths: Sequence[str],
    ref_name: str,
    ref_culture: Optional[str],
    probing_paths: Optional[Sequence[str]] = None,
) -> List[str]:
    """Normalized probe keys (dir + ``name.dll``) for one assemblyRef."""
    return [
        win_norm(win_join(d, ref_name + ".dll"))
        for d in dotnet_probedirs(install_paths, ref_culture, ref_name, probing_paths)
    ]


def dotnet_implmap_probe_keys(install_paths: Sequence[str], ref_name: str) -> List[str]:
    """Normalized probe keys for one ImplMap entry. Absolute refs probe
    the path directly (`dotnet_relationship.py:93-103`); relative refs
    probe parent dirs x name combinations."""
    if win_is_absolute(ref_name):
        return [win_norm(ref_name)]
    keys: List[str] = []
    for ip in install_paths or []:
        base = win_parent_posix(ip)
        for combo in dotnet_implmap_name_combinations(ref_name):
            keys.append(win_norm(win_join(base, combo)))
    return keys


def dotnet_codebase_probe_keys(
    install_paths: Sequence[str], codebase_href: str
) -> List[str]:
    """Probe keys for an appConfig codeBase href
    (`dotnet_relationship.py:160-186`). URL hrefs are skipped by the
    reference; callers filter those before calling."""
    return [win_norm(win_join(win_parent_posix(ip), codebase_href)) for ip in install_paths or []]


def parse_private_paths(private_path: str) -> List[str]:
    """Split an appConfig probing privatePath attribute
    (`dotnet_relationship.py:60-66`); entries rendered as posix."""
    import pathlib

    return [pathlib.PureWindowsPath(p).as_posix() for p in private_path.split(";")]
