# zsh completion via bash compatibility (autoload -U +X bashcompinit && bashcompinit)
# bash completion for goskyr-spark (generated: `goskyr-spark completion --shell bash`)
_goskyr_spark_completions() {
  local cur=${COMP_WORDS[COMP_CWORD]}
  local prev=${COMP_WORDS[COMP_CWORD-1]}
  local compwords=("${COMP_WORDS[@]:1:$COMP_CWORD-1}")
  local compline="${compwords[*]}"
  case "$compline" in
    'completion'*)
      COMPREPLY=($(compgen -W "-h --help -s --shell" -- "$cur")) ;;
    'crawl'*)
      case "$prev" in
        --config | --pages | --seeds | --workdir | -c)
          COMPREPLY=($(compgen -A file -- "$cur")) ;;
        *)
          COMPREPLY=($(compgen -W "-h --help --workdir -c --config --live --pages --seeds --hosts --max-rounds --canonicalize --adaptive" -- "$cur")) ;;
      esac ;;
    'extract'*)
      case "$prev" in
        --config | --out-file | --word-lists | -c | -o | -w)
          COMPREPLY=($(compgen -A file -- "$cur")) ;;
        *)
          COMPREPLY=($(compgen -W "-h --help -c --config -o --out-file -w --word-lists" -- "$cur")) ;;
      esac ;;
    'generate'*)
      case "$prev" in
        --file)
          COMPREPLY=($(compgen -A file -- "$cur")) ;;
        *)
          COMPREPLY=($(compgen -W "-h --help --file --url --min-occ -i --interactive" -- "$cur")) ;;
      esac ;;
    'list'*)
      case "$prev" in
        --config | -c)
          COMPREPLY=($(compgen -A file -- "$cur")) ;;
        *)
          COMPREPLY=($(compgen -W "-h --help -c --config" -- "$cur")) ;;
      esac ;;
    'scrape'*)
      case "$prev" in
        --config | -c)
          COMPREPLY=($(compgen -A file -- "$cur")) ;;
        *)
          COMPREPLY=($(compgen -W "-h --help -c --config -n --name" -- "$cur")) ;;
      esac ;;
    'train'*)
      case "$prev" in
        --feature-file | -f)
          COMPREPLY=($(compgen -A file -- "$cur")) ;;
        *)
          COMPREPLY=($(compgen -W "-h --help -f --feature-file" -- "$cur")) ;;
      esac ;;
    *)
      COMPREPLY=($(compgen -W "completion crawl extract generate list scrape train --help -h" -- "$cur")) ;;
  esac
} &&
complete -F _goskyr_spark_completions goskyr-spark
