package graft.app

/** The built-in search UI — the engine-side stand-in for the reference's
  * separate React GUI (/root/reference/gui/haystack-gui: a Vite/React app
  * whose entire server contract is GET /search?q=&k= (1-50), GET /health,
  * and rendering docId/score/snippet per hit —
  * src/services/searchApi.ts:109, src/types/search.ts:50-55). Re-expressed
  * here as ONE dependency-free static page served by the engine itself (no
  * npm toolchain in a zero-dep build; nothing to deploy separately), it
  * speaks the same endpoints and extends them with the engine's additive
  * query modes (phrase/prefix/fuzzy/wildcard), metadata filters, /suggest
  * autocomplete and /didyoumean — every control maps 1:1 onto a documented
  * query parameter, so the page doubles as living API documentation.
  *
  * Served at `/` and `/ui`; pure static text (no per-request work, no
  * state), so it adds nothing to the serving hot path.
  */
object SearchUi {

  val Page: String =
    """<!doctype html>
      |<html lang="en">
      |<head>
      |<meta charset="utf-8">
      |<meta name="viewport" content="width=device-width, initial-scale=1">
      |<title>graft search</title>
      |<style>
      |:root{--fg:#1a1d23;--mut:#6b7280;--line:#e5e7eb;--acc:#2563eb;--bg:#fff;--chip:#f3f4f6}
      |@media(prefers-color-scheme:dark){:root{--fg:#e5e7eb;--mut:#9ca3af;--line:#374151;--acc:#60a5fa;--bg:#111827;--chip:#1f2937}}
      |*{box-sizing:border-box}body{margin:0;background:var(--bg);color:var(--fg);font:15px/1.5 system-ui,sans-serif}
      |.wrap{max-width:780px;margin:0 auto;padding:24px 16px}
      |header{display:flex;align-items:baseline;gap:10px;margin-bottom:16px}
      |h1{font-size:20px;margin:0}#health{font-size:12px;color:var(--mut)}
      |#health.ok::before{content:"\25CF ";color:#16a34a}#health.bad::before{content:"\25CF ";color:#dc2626}
      |form{display:flex;flex-wrap:wrap;gap:8px;margin-bottom:6px}
      |.qbox{position:relative;flex:1 1 280px}
      |input,select{font:inherit;color:inherit;background:var(--bg);border:1px solid var(--line);border-radius:8px;padding:8px 10px}
      |#q{width:100%}#k{width:70px}#lang,#source{width:110px}#apikey,#tenant{width:110px}
      |button{font:inherit;border:0;border-radius:8px;padding:8px 16px;background:var(--acc);color:#fff;cursor:pointer}
      |#sugg{position:absolute;top:100%;left:0;right:0;z-index:9;background:var(--bg);border:1px solid var(--line);border-radius:8px;margin-top:2px;display:none}
      |#sugg div{padding:6px 10px;cursor:pointer}#sugg div:hover{background:var(--chip)}
      |#sugg .df{color:var(--mut);font-size:12px;float:right}
      |#dym{margin:8px 2px;color:var(--mut);display:none}#dym a{color:var(--acc);cursor:pointer}
      |#stat{margin:8px 2px;color:var(--mut);font-size:13px}
      |.hit{border-top:1px solid var(--line);padding:12px 2px}
      |.hit .top{display:flex;gap:10px;align-items:baseline}
      |.hit .score{color:var(--mut);font-size:12px}
      |.hit .doc{font-weight:600}
      |.chip{background:var(--chip);border-radius:6px;padding:1px 8px;font-size:12px;color:var(--mut)}
      |.snip{margin-top:4px;word-break:break-word}mark{background:#fde68a;color:#111;border-radius:3px;padding:0 1px}
      |@media(prefers-color-scheme:dark){mark{background:#a16207;color:#fff}}
      |</style>
      |</head>
      |<body><div class="wrap">
      |<header><h1>graft search</h1><span id="health">checking&hellip;</span></header>
      |<form id="f">
      |<div class="qbox"><input id="q" autocomplete="off" placeholder="search terms &mdash; OR between terms, -term to exclude" autofocus><div id="sugg"></div></div>
      |<select id="mode" title="query mode">
      |<option value="q">terms</option><option value="phrase">phrase</option>
      |<option value="prefix">prefix</option><option value="fuzzy">fuzzy</option>
      |<option value="wildcard">wildcard</option>
      |</select>
      |<input id="k" type="number" min="1" max="50" value="10" title="results">
      |<input id="lang" placeholder="lang" title="filter: lang">
      |<input id="source" placeholder="source" title="filter: source">
      |<input id="tenant" placeholder="tenant" title="tenant id (multi-tenant gateway)">
      |<input id="apikey" placeholder="api key" title="X-Api-Key (multi-tenant gateway)" autocomplete="off">
      |<button>Search</button>
      |</form>
      |<div id="dym"></div><div id="stat"></div><div id="res"></div>
      |</div>
      |<script>
      |"use strict";
      |var $=function(id){return document.getElementById(id)};
      |function esc(s){var d=document.createElement("span");d.textContent=s;return d.innerHTML}
      |// relative URLs: the page works at any mount (engine server root or
      |// the multi-tenant gateway); an API key, when supplied, rides every
      |// request as the X-Api-Key header (the gateway's only auth channel)
      |function api(url){
      |  var k=$("apikey")?$("apikey").value.trim():"";
      |  return fetch(url,k?{headers:{"X-Api-Key":k}}:{})}
      |api("health").then(function(r){
      |  var el=$("health");
      |  if(r.ok){el.className="ok";el.textContent="serving"}
      |  else{el.className="bad";el.textContent="not ready"}
      |}).catch(function(){var el=$("health");el.className="bad";el.textContent="engine unreachable"});
      |var suggTimer=null;
      |$("q").addEventListener("input",function(){
      |  clearTimeout(suggTimer);var v=$("q").value.trim();
      |  var last=v.split(/\s+/).pop();
      |  if(!last||$("mode").value!=="q"){$("sugg").style.display="none";return}
      |  suggTimer=setTimeout(function(){
      |    api("suggest?q="+encodeURIComponent(last)+"&k=8").then(function(r){return r.json()}).then(function(s){
      |      // drop out-of-order responses: the prefix this answer is for
      |      // must still be the token under the cursor
      |      if($("q").value.trim().split(/\s+/).pop()!==last)return;
      |      var box=$("sugg");box.innerHTML="";
      |      (s.suggestions||[]).forEach(function(t){
      |        var d=document.createElement("div");
      |        d.innerHTML=esc(t.term)+'<span class="df">'+t.df+"</span>";
      |        d.onclick=function(){
      |          var parts=$("q").value.trim().split(/\s+/);parts[parts.length-1]=t.term;
      |          $("q").value=parts.join(" ");box.style.display="none";run()};
      |        box.appendChild(d)});
      |      box.style.display=s.suggestions&&s.suggestions.length?"block":"none"})
      |    .catch(function(){$("sugg").style.display="none"})
      |  },150)});
      |document.addEventListener("click",function(e){if(!$("sugg").contains(e.target))$("sugg").style.display="none"});
      |function highlight(snippet,terms){
      |  // single pass over the RAW text with one alternation, escaping each
      |  // piece as it is emitted — sequential per-term replaces over
      |  // accumulating HTML would re-match inside inserted <mark> tags and
      |  // esc() entities (terms like "mark" or "amp" corrupt the output)
      |  var pats=terms.filter(function(t){return t&&t[0]!=="-"})
      |    .map(function(t){return t.replace(/[.*+?^${}()|[\]\\]/g,"\\$&")});
      |  if(!pats.length)return esc(snippet);
      |  var re=new RegExp("("+pats.join("|")+")","gi"),out="",last=0,m;
      |  while((m=re.exec(snippet))!==null){
      |    out+=esc(snippet.slice(last,m.index))+"<mark>"+esc(m[0])+"</mark>";
      |    last=m.index+m[0].length;
      |    if(m[0].length===0)re.lastIndex++}
      |  return out+esc(snippet.slice(last))}
      |function run(){
      |  var q=$("q").value.trim();if(!q)return;
      |  var mode=$("mode").value,k=Math.min(50,Math.max(1,+$("k").value||10));
      |  var url="search?"+mode+"="+encodeURIComponent(q)+"&k="+k;
      |  if($("lang").value.trim())url+="&lang="+encodeURIComponent($("lang").value.trim());
      |  if($("source").value.trim())url+="&source="+encodeURIComponent($("source").value.trim());
      |  if($("tenant").value.trim())url+="&tenant="+encodeURIComponent($("tenant").value.trim());
      |  var t0=performance.now();
      |  $("stat").textContent="searching…";$("dym").style.display="none";
      |  api(url).then(function(r){
      |    if(!r.ok)throw new Error("search failed with "+r.status);
      |    return r.json()
      |  }).then(function(data){
      |    var ms=(performance.now()-t0).toFixed(1);
      |    var hits=data.results||[];
      |    $("stat").textContent=hits.length+" result"+(hits.length===1?"":"s")+" in "+ms+" ms";
      |    var terms=q.toLowerCase().split(/\s+/).filter(function(t){return t!=="or"});
      |    $("res").innerHTML=hits.map(function(h){
      |      return '<div class="hit"><div class="top"><span class="doc">doc '+h.docId+
      |        '</span><span class="score">'+(+h.score).toFixed(4)+"</span>"+
      |        (h.source?'<span class="chip">'+esc(h.source)+"</span>":"")+
      |        (h.lang?'<span class="chip">'+esc(h.lang)+"</span>":"")+
      |        '</div><div class="snip">'+highlight(h.snippet||"",terms)+"</div></div>"}).join("");
      |    if(mode==="q")api("didyoumean?q="+encodeURIComponent(q)).then(function(r){return r.json()}).then(function(d){
      |      var fixed=(d.terms||[]).map(function(t){return t.suggestion});
      |      if(fixed.length&&(d.terms||[]).some(function(t){return t.suggestion!==t.term})){
      |        var s=fixed.join(" ");
      |        $("dym").innerHTML="Did you mean: <a>"+esc(s)+"</a>?";
      |        $("dym").style.display="block";
      |        $("dym").querySelector("a").onclick=function(){$("q").value=s;run()}}})
      |      .catch(function(){})
      |  }).catch(function(e){$("stat").textContent=e.message;$("res").innerHTML=""})}
      |$("f").addEventListener("submit",function(e){e.preventDefault();run()});
      |</script>
      |</body></html>
      |""".stripMargin
}
